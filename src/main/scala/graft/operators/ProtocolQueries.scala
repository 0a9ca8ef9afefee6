package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{FlowView, Graft, Q, Tables}
import graft.plans.BpfFilter
import graft.sources.{NetFlowV5, NetFlowV9, SFlowDatagram, SFlowGateway, SFlowIfCounters, SFlowSample, SFlowV2V4Datagram, SFlowV2V4Sample, SFlowV5, V5Header, V5Record}

/** Protocol-surface operators: the BPF filter compiler in a real plan,
  * custom primitives (user-declared field extraction, SURVEY §1.2), and
  * the NetFlow v5 wire codec driven through a Spark pipeline
  * (encode → datagrams → decode → aggregate; the oracle aggregates the
  * same derived records directly, so any codec defect breaks parity).
  */
object ProtocolQueries {

  private def flows(s: org.apache.spark.sql.SparkSession, d: String) =
    FlowView.fromEvents(Tables.events(s, d))

  /** One exporter's datagrams in arrival order with `late` (a template
    * or option record) placed after the `k`-th data datagram, or closing
    * the run when it has fewer — the records before it must wait in the
    * collector. Lazy: the run streams as the decode reads it. */
  private def after(k: Int, late: Array[Byte])(
      data: Iterator[Array[Byte]]): Iterator[Array[Byte]] = {
    var n = 0
    data.flatMap { dg =>
      n += 1
      if (n == k) Iterator(dg, late) else Iterator.single(dg)
    } ++ (if (n < k) Iterator.single(late) else Iterator.empty)
  }

  val all: Seq[Q] = Seq(

    // aggregate_filter: tcpdump-subset text compiled to one Catalyst
    // predicate (CONFIG-KEYS:182-204).
    Q("q54_bpf_filter",
      (s, d) => {
        val pred = BpfFilter.compile(
          "tcp and dst port 80 and bytes > 50000 " +
            "or ( udp and not src net 8192/4 )",
          BpfFilter.Fields(col("ip_src"), col("ip_dst"),
            col("port_src"), col("port_dst"),
            col("ip_proto"), col("bytes"), col("packets")))
        flows(s, d).filter(pred)
          .groupBy("ip_proto")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
           FROM flows
           WHERE (ip_proto = 6 AND port_dst = 80 AND bytes > 50000)
              OR (ip_proto = 17 AND NOT ((ip_src >> 12) << 12 = 8192))
           GROUP BY ip_proto""")),
      doc = "BPF-subset filter compiled to a Catalyst predicate"),

    // Custom primitives: user-declared extraction from the record's raw
    // side-data (aggregate_primitives, CONFIG-KEYS:174-180) — here a JSON
    // props blob → typed value, grouped like any first-class primitive.
    // The blob is parsed ONCE into a typed struct at ingest (from_json
    // with a partial schema); every downstream use reads the struct
    // column. At 100 TB the per-row JSON parse is the scan's cost center,
    // so it must run exactly once — never once per extracted field.
    Q("q55_custom_primitives",
      (s, d) => Tables.events(s, d)
        .withColumn("props_t", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
        .withColumn("cp_k", col("props_t.k"))
        .groupBy(col("event_type"), (col("cp_k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum("cp_k").as("sum_k")),
      Some("""SELECT event_type,
              (json_extract_string(props, '$.k')::BIGINT) % 10 AS k_bucket,
              count(*) AS n,
              CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
                AS sum_k
              FROM events GROUP BY 1, 2"""),
      doc = "custom primitive extraction from raw side-data"),

    // NetFlow v5 codec under Spark: derive v5 records, pack them into wire
    // datagrams per partition, decode back, aggregate the decoded stream.
    Q("q56_nfv5_codec",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val recs = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("port_src") % 65536,
            col("port_dst"), col("tcp_flags"), col("ip_proto"),
            col("bytes") % 4294967296L, col("packets"),
            expr("t0u div 1000 % 4294967296"),
            expr("t1u div 1000 % 4294967296"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
          .map { case (sa, da, sp_, dp, fl, pr, oc, pk, fi, la) =>
            V5Record(sa, da, 0L, 1, 2, pk, oc, fi, la, sp_.toInt, dp.toInt,
              fl.toInt, pr.toInt, 0, 0, 0, 0, 0)
          }
        val decoded = recs.mapPartitions { it =>
          it.grouped(NetFlowV5.MaxRecords).flatMap { batch =>
            val wire = NetFlowV5.encode(
              V5Header(5, batch.size, 0L, 0L, 0L, 0L, 0, 0, 1), batch)
            NetFlowV5.decode(wire)._2
          }
        }
        decoded.toDF()
          .groupBy("proto")
          .agg(count(lit(1)).as("n"), sum("octets").as("octets"),
            sum("packets").as("packets"),
            expr("bit_or(tcpFlags)").as("flags_or"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n,
           CAST(sum(bytes % 4294967296) AS BIGINT) AS octets,
           CAST(sum(packets) AS BIGINT) AS packets,
           bit_or(tcp_flags) AS flags_or
           FROM flows GROUP BY 1""")),
      doc = "NetFlow v5 wire codec round-trip inside the pipeline"),

    // NetFlow v9 with template STATE: per-exporter keyed decode where the
    // first data datagrams arrive BEFORE their template and are buffered
    // until it shows up (nfv9_template.c semantics). The oracle aggregates
    // the underived records directly — if the cache dropped, duplicated,
    // or misdecoded buffered data, parity breaks.
    Q("q57_nfv9_templates",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            col("ip_proto"), col("port_dst"),
            (col("bytes") % 4294967296L).as("octets"), col("packets"))
          .as[(Long, Long, Long, Long, Long, Long)]
        // secondary-sort walk: each exporter run streams through
        // 20-record datagrams and the template cache as one lazy
        // pipeline, and Spark's partial aggregate folds the decoded
        // records — task memory is O(batch), never the exporter's
        // record set
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(260, Seq(
              IE.Protocol -> 1, IE.L4DstPort -> 2,
              IE.InBytes -> 4, IE.InPkts -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            // even exporters speak NetFlow v9, odd exporters IPFIX —
            // nfacctd accepts both concurrently (SURVEY §2.8)
            val ipfix = ex % 2 == 1
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(20).map { b =>
              val rs = b.map(r => Map(IE.Protocol -> r._3,
                IE.L4DstPort -> r._4, IE.InBytes -> r._5, IE.InPkts -> r._6))
              if (ipfix) NetFlowV9.encodeDataIpfix(h, tmpl, rs)
              else NetFlowV9.encodeData(h, tmpl, rs)
            }
            // template deliberately arrives after two data datagrams
            // — the cache buffers the early records until then
            after(2, if (ipfix) NetFlowV9.encodeTemplateIpfix(h, tmpl)
                else NetFlowV9.encodeTemplate(h, tmpl))(data)
              .flatMap(cache.observe)
              .map(m => (m(IE.Protocol), m(IE.InBytes), m(IE.InPkts)))
          }
        }
        decoded.toDF("proto", "octets", "packets")
          .groupBy("proto")
          .agg(count(lit(1)).as("n"), sum("octets").as("octets"),
            sum("packets").as("packets"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n,
           CAST(sum(bytes % 4294967296) AS BIGINT) AS octets,
           CAST(sum(packets) AS BIGINT) AS packets
           FROM flows GROUP BY 1""")),
      doc = "NetFlow v9 template cache with data-before-template buffering"),

    // The tmp_asa_bi_flow knob (CONFIG-KEYS:3712, handler
    // src/pkt_handlers.c:3240-3330): Cisco ASA bi-flow exports carry
    // FOUR counters (initiator/responder x bytes/packets) where pmacct
    // has two, so the documented hack maps initiatorOctets (IE 231) →
    // the bytes counter and responderOctets (IE 232) → the PACKETS
    // counter — but ONLY as the last fallback of the counter
    // precedence chain (IN_* > FLOW_* > OUT_* > L2 > ASA), and only
    // with the knob on. The gate decodes one mixed feed through the
    // template cache and evaluates BOTH knob positions: ASA-template
    // records must account initiator/responder with the knob on and
    // fall through to zero with it off, while standard-template
    // records that ALSO carry decoy 231/232 fields must keep their
    // IN_BYTES/IN_PKTS counters either way (precedence, not
    // field-presence, decides).
    Q("q283_asa_bi_flow",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            col("event_id"), col("ip_proto"), col("port_dst"),
            (col("bytes") % 4294967296L).as("octets"), col("packets"))
          .as[(Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          val h = NetFlowV9.V9Header(0L, 0L, 0L, 7L)
          val stdT = NetFlowV9.Template(260, Seq(
            IE.Protocol -> 1, IE.L4DstPort -> 2,
            IE.InBytes -> 4, IE.InPkts -> 4,
            IE.InitiatorOctets -> 4, IE.ResponderOctets -> 4))
          val asaT = NetFlowV9.Template(261, Seq(
            IE.Protocol -> 1, IE.L4DstPort -> 2,
            IE.InitiatorOctets -> 4, IE.ResponderOctets -> 4))
          val cache = new NetFlowV9.TemplateCache
          // every 20 records split into one ASA and one standard data
          // set, each on its own template
          val data = it.grouped(20).flatMap { b =>
            val (asa, std) = b.partition(_._1 % 2 == 0)
            Seq(
              asaT -> asa.map { case (_, proto, port, octets, pkts) =>
                Map(IE.Protocol -> proto, IE.L4DstPort -> port,
                  IE.InitiatorOctets -> octets,
                  IE.ResponderOctets -> (pkts * 131 + 7)) },
              stdT -> std.map { case (_, proto, port, octets, pkts) =>
                Map(IE.Protocol -> proto, IE.L4DstPort -> port,
                  IE.InBytes -> octets, IE.InPkts -> pkts,
                  // decoy ASA counters: precedence must ignore them
                  IE.InitiatorOctets -> 12345L,
                  IE.ResponderOctets -> 54321L) })
              .collect { case (t, rs) if rs.nonEmpty =>
                NetFlowV9.encodeData(h, t, rs) }
          }
          (Iterator(NetFlowV9.encodeTemplate(h, stdT),
              NetFlowV9.encodeTemplate(h, asaT)) ++ data)
            .flatMap(cache.observe)
            .flatMap { m =>
              val kind = if (m.contains(IE.InBytes)) "std" else "asa"
              Seq(true, false).map { knob =>
                val (b, p) = NetFlowV9.counters(m, asaBiFlow = knob)
                (if (knob) "on" else "off", kind, b, p)
              }
            }
        }
        decoded.toDF("lane", "kind", "b", "p")
          .groupBy("lane", "kind")
          .agg(count(lit(1)).as("n"), sum("b").as("sum_bytes"),
            sum("p").as("sum_pkts"))
      },
      Some(FlowView.cte(
        """, base AS (SELECT event_id % 2 AS m,
              bytes % 4294967296 AS b, packets AS p,
              packets * 131 + 7 AS rb FROM flows)
           SELECT 'on' AS lane, 'asa' AS kind, count(*) AS n,
             CAST(sum(b) AS BIGINT) AS sum_bytes,
             CAST(sum(rb) AS BIGINT) AS sum_pkts
           FROM base WHERE m = 0
           UNION ALL SELECT 'on', 'std', count(*),
             CAST(sum(b) AS BIGINT), CAST(sum(p) AS BIGINT)
           FROM base WHERE m = 1
           UNION ALL SELECT 'off', 'asa', count(*),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           FROM base WHERE m = 0
           UNION ALL SELECT 'off', 'std', count(*),
             CAST(sum(b) AS BIGINT), CAST(sum(p) AS BIGINT)
           FROM base WHERE m = 1""")),
      doc = "tmp_asa_bi_flow: ASA initiator/responder counters via the" +
        " precedence chain, both knob positions gated"),

    // NetFlow v9 OPTION records in-stream: the exporter announces its
    // sampling rate via an options template + option data record; data
    // records decoded afterwards renormalize by the rate in effect, and a
    // mid-stream rate change takes over for the second half
    // (src/pkt_handlers.c:3690-3830 sampling option correlation).
    Q("q73_nfv9_options",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val base = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            col("ip_proto"), (col("bytes") % 4294967296L).as("b"))
        // the mid-stream rate change lands at the exporter's halfway
        // record — the tiny per-exporter count broadcasts so the
        // streaming handler knows the boundary without buffering
        val cnts = base.groupBy("exporter").agg(count(lit(1)).as("cnt"))
        val rows = base.join(broadcast(cnts), Seq("exporter"))
          .select("exporter", "event_id", "ip_proto", "b", "cnt")
          .as[(Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val dataT = NetFlowV9.Template(270,
              Seq(IE.Protocol -> 1, IE.InBytes -> 4))
            val optT = NetFlowV9.Template(400,
              Seq(IE.ScopeSystem -> 4, IE.SamplingInterval -> 4))
            def optRecord(rate: Long) = NetFlowV9.encodeData(h, optT,
              Seq(Map(IE.ScopeSystem -> ex, IE.SamplingInterval -> rate)))
            val r1 = 1L + (ex % 4) * 50L
            val r2 = r1 + 100L
            val cache = new NetFlowV9.TemplateCache
            val r = run.buffered
            val half = ((r.head._5 + 1) / 2).toInt
            def data(rs: Iterator[(Long, Long, Long, Long, Long)]) =
              rs.grouped(20).map(b => NetFlowV9.encodeData(h, dataT,
                b.map(x => Map(IE.Protocol -> x._3, IE.InBytes -> x._4))))
            var rate = 1L
            // the rate option precedes the data and changes right after
            // the halfway record: `take(half)` reads exactly the first
            // half of the run, the rest of `r` the second
            (Iterator(NetFlowV9.encodeOptionTemplate(h, optT, 1),
                optRecord(r1), NetFlowV9.encodeTemplate(h, dataT)) ++
              data(r.take(half)) ++ Iterator.single(optRecord(r2)) ++
              data(r))
              .flatMap(cache.observe)
              .flatMap { m =>
                if (m.contains(IE.SamplingInterval)) {
                  rate = m(IE.SamplingInterval); None
                } else Some((ex, m(IE.Protocol), m(IE.InBytes) * rate))
              }
          }
        }
        decoded.toDF("exporter", "proto", "b")
          .groupBy("exporter", "proto")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes_renorm"))
      },
      Some(FlowView.cte(
        """SELECT exporter, proto, count(*) AS n,
           CAST(sum(b * (CASE WHEN rn <= (cnt + 1) // 2
             THEN 1 + (exporter % 4) * 50
             ELSE 101 + (exporter % 4) * 50 END)) AS BIGINT)
             AS bytes_renorm
           FROM (
             SELECT ip_src % 16 AS exporter, ip_proto AS proto,
               bytes % 4294967296 AS b,
               row_number() OVER (PARTITION BY ip_src % 16
                 ORDER BY event_id) AS rn,
               count(*) OVER (PARTITION BY ip_src % 16) AS cnt
             FROM flows)
           GROUP BY 1, 2""")),
      doc = "v9 option records driving in-stream sampling renormalization"),

    // IPFIX with variable-length AND enterprise (PEN-scoped) IEs in one
    // template (RFC 7011 §7 vlen encoding + §3.2 enterprise bit;
    // reference: resolve_vlen_template src/nfv9_template.c:1276, PEN
    // template entries src/nfv9_template.h:311-325). Real exporters send
    // vlen strings (application names, URLs) and PEN fields constantly —
    // the template here mixes fixed numeric + vlen string + PEN numeric,
    // the template arrives AFTER the first data set (vlen buffering), and
    // the oracle aggregates the underived rows: any defect in the vlen
    // length-prefix walk or PEN spec parse breaks parity.
    Q("q91_ipfix_vlen",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.{FieldSpec, IE, TemplateX, VarLen}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 8).as("exporter"), col("event_id"),
            col("event_type"),
            expr("floor(value * 100)").as("b"), col("user_id"))
          .as[(Long, Long, String, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            // 96 = applicationName (vlen string); PEN 9 type 1 = a
            // Cisco-scoped numeric custom primitive
            val appK = 96L
            val penF = FieldSpec(1, 4, pen = 9L)
            val tmpl = TemplateX(280, Seq(
              FieldSpec(96, VarLen), FieldSpec(IE.InBytes, 4), penF))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(20).map(b => NetFlowV9.encodeDataIpfixX(
              h, tmpl, b.map(r => Map[Long, Any](appK -> r._3,
                IE.InBytes.toLong -> r._4, penF.key -> r._5))))
            // template deliberately arrives after the first data set
            after(1, NetFlowV9.encodeTemplateIpfixX(h, tmpl))(data)
              .flatMap(cache.observeX)
              .map(m => (m(appK).asInstanceOf[String],
                m(IE.InBytes.toLong).asInstanceOf[Long],
                m(penF.key).asInstanceOf[Long]))
          }
        }
        decoded.toDF("app", "bytes", "uid")
          .groupBy("app")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"),
            sum("uid").as("sum_uid"))
      },
      Some("""SELECT event_type AS app, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              CAST(sum(user_id) AS BIGINT) AS sum_uid
              FROM events GROUP BY 1"""),
      doc = "IPFIX vlen + PEN-scoped IEs through the template cache"),

    // pmacct's own IANA PEN 43874 (docs/IPFIX; nfv9_template.h:31,
    // 246-249): IE 1 = tag (unsigned64), IE 2 = tag2 (unsigned64),
    // IE 3 = label (variable-length string) — IPFIX-only, the
    // NF_cust_tag/tag2/label handlers at pkt_handlers.c:4705-4770 copy
    // them straight into the tag/tag2/label primitives. The nfprobe
    // side exports them via PEN templates (nfprobe_plugin/
    // netflow9.c:1022-1042 IPFIX_TPL_EBIT). Round trip: tag the flows,
    // export through a PEN template (template arriving AFTER the first
    // data set, exercising buffering), decode via the template cache,
    // aggregate on the recovered primitives.
    Q("q167_pen_tag_label",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.{FieldSpec, IE, TemplateX, VarLen}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 8).as("exporter"), col("event_id"),
            (col("user_id") % 100).as("tag"),
            (col("event_id") % 50).as("tag2"),
            col("event_type").as("label"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("b"))
          .as[(Long, Long, Long, Long, String, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val Pen = 43874L
            val tagF = FieldSpec(1, 8, pen = Pen)
            val tag2F = FieldSpec(2, 8, pen = Pen)
            val labelF = FieldSpec(3, VarLen, pen = Pen)
            val tmpl = TemplateX(290, Seq(
              tagF, tag2F, labelF, FieldSpec(IE.InBytes, 4)))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(25).map(b => NetFlowV9.encodeDataIpfixX(
              h, tmpl, b.map(r => Map[Long, Any](tagF.key -> r._3,
                tag2F.key -> r._4, labelF.key -> r._5,
                IE.InBytes.toLong -> r._6))))
            after(1, NetFlowV9.encodeTemplateIpfixX(h, tmpl))(data)
              .flatMap(cache.observeX)
              .map(m => (m(labelF.key).asInstanceOf[String],
                m(tagF.key).asInstanceOf[Long],
                m(tag2F.key).asInstanceOf[Long],
                m(IE.InBytes.toLong).asInstanceOf[Long]))
          }
        }
        decoded.toDF("label", "tag", "tag2", "bytes")
          .groupBy("label")
          .agg(count(lit(1)).as("n"), sum("tag").as("sum_tag"),
            sum("tag2").as("sum_tag2"), sum("bytes").as("bytes"))
      },
      Some("""SELECT event_type AS label, count(*) AS n,
              CAST(sum(user_id % 100) AS BIGINT) AS sum_tag,
              CAST(sum(event_id % 50) AS BIGINT) AS sum_tag2,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes
              FROM events GROUP BY 1"""),
      doc = "pmacct PEN 43874 tag/tag2/label IEs through IPFIX"),

    // Avro sink round-trip: build the record schema from the projected
    // output (plugin_cmn_avro.c:47's bitmask walk ≙ schema-from-
    // projection), encode each row to single-record Avro binary (the
    // kafka_avro message body), decode executor-side, aggregate. The
    // oracle aggregates the underived rows — schema or codec defects
    // break parity.
    Q("q92_avro_sink",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sinks.AvroSink
        val proj = Tables.events(s, d).selectExpr(
          "event_type", "cast(user_id as bigint) as user_id",
          "floor(value * 100) as b")
        val schemaJson = AvroSink.avroSchema(proj.schema).toString
        AvroSink.encode(proj).mapPartitions { it =>
          val dec = AvroSink.rowDecoder(schemaJson) // schema parses ONCE
          it.map { bytes =>
            val r = dec(bytes)
            (String.valueOf(r.get(0)), r.get(1).asInstanceOf[Long],
              r.get(2).asInstanceOf[Long])
          }
        }.toDF("event_type", "user_id", "b")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"),
            countDistinct("user_id").as("n_users"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1"""),
      doc = "Avro sink: schema-from-projection + binary round-trip"),

    // The kafka_avro_schema_registry path END-TO-END against LIVE
    // in-process services (CONFIG-KEYS:1885; the reference links
    // libserdes for exactly these moves): every PRODUCER task registers
    // the projection's schema over HTTP (the registry must dedupe to
    // ONE global id no matter how many tasks race), encodes its rows to
    // single-record Avro binary, frames them in the Confluent wire
    // format (magic 0 + u32 schema id), and produces to the live
    // broker. The CONSUMER side fetches per partition, unwraps the
    // frame, resolves the schema BY ID over HTTP (one resolution per
    // task, cached — the serdes consumer shape), decodes, aggregates.
    // schema_id rides the output so the oracle pins the dedupe: any
    // re-registration handing out a second id breaks parity.
    Q("q271_avro_schema_registry",
      (s, d) => Graft.scratchLane("q271_avro") { scratch =>
        val sp = s
        import sp.implicits._
        import graft.sinks.{AvroSink, KafkaMiniBroker, KafkaWire,
          SchemaRegistryMini}
        val registry = new SchemaRegistryMini
        val regPort = registry.start()
        val broker = new KafkaMiniBroker
        val brokerPort = broker.start()
        val store = scratch.resolve("landed").toString
        try {
          val proj = Tables.events(s, d).selectExpr(
            "event_type", "cast(user_id as bigint) as user_id",
            "cast(floor(value * 100) as bigint) as b")
          val schemaJson = AvroSink.avroSchema(proj.schema).toString
          proj.repartition(8).rdd.foreachPartition { rows =>
            // producer task: register (dedupes), encode, frame, produce
            val id = SchemaRegistryMini.register(regPort,
              "daisy.flow-value", schemaJson)
            val enc = graft.sinks.AvroSink.rowEncoder(schemaJson)
            KafkaMiniBroker.produceAll(brokerPort, "graft_avro",
              rows.grouped(60).map { batch =>
                batch.groupBy { r =>
                  (r.getLong(1) % 4).toInt
                }.toSeq.sortBy(_._1).map { case (p, recs) =>
                  KafkaWire.PartitionBatch("daisy.flow", p, recs.map {
                    r => KafkaWire.Record(s"k${r.getLong(1)}",
                      SchemaRegistryMini.wrap(id, enc(r)))
                  })
                }
              })
          }
          val assign = broker.partitionEnds
          val landed = s.sparkContext
            .parallelize(assign, math.max(1, assign.size))
            .mapPartitions { parts =>
              // consumer task: resolve schemas by id over HTTP, cached —
              // the cache holds the PARSED per-schema decoder, not the
              // JSON (one schema parse per id per task, not per record)
              val cache = scala.collection.mutable
                .Map[Int, Array[Byte] => org.apache.avro.generic.GenericRecord]()
              parts.flatMap { case (topic, p, hw) =>
                KafkaMiniBroker.consume(brokerPort, topic, p, hw)
                  .map { case (_, rec) =>
                    val (id, avro) = SchemaRegistryMini
                      .unwrap(rec.value).get
                    val dec = cache.getOrElseUpdate(id, AvroSink.rowDecoder(
                      SchemaRegistryMini.fetchById(regPort, id).get))
                    val r = dec(avro)
                    (String.valueOf(r.get(0)),
                      r.get(1).asInstanceOf[Long],
                      r.get(2).asInstanceOf[Long], id.toLong)
                  }
              }
            }.toDF("event_type", "user_id", "b", "schema_id")
          landed.write.mode("overwrite").parquet(store)
        } finally { broker.close(); registry.close() }
        s.read.parquet(store)
          .groupBy("event_type", "schema_id")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"),
            countDistinct("user_id").as("n_users"))
      },
      Some("""SELECT event_type, CAST(1 AS BIGINT) AS schema_id,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1"""),
      doc = "Confluent schema-registry Avro: live HTTP register/dedupe" +
        " + wire framing + broker round-trip"),

    // sFlow v5: encode flow samples into datagrams per partition, decode,
    // and renormalize counters by the per-sample sampling rate — sFlow's
    // defining ingest semantic (src/sfacctd.c renormalization). Oracle
    // aggregates the underived values, so codec or renorm defects break
    // parity.
    Q("q64_sflow_renorm",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            (col("bytes") % 4294967296L).as("frame_len"))
          .as[(Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(10).flatMap { batch =>
            val samples = batch.map { case (ex, eid, fl) =>
              SFlowSample(eid % 4294967296L, ex, 1L + (ex % 4L) * 99L,
                0L, 0L, 1L, 2L, 1L, fl, Seq.empty)
            }
            val dg = SFlowV5.encode(SFlowDatagram(
              batch.head._1, 0L, batch.head._2 % 4294967296L, 0L, samples))
            val back = SFlowV5.decode(dg)
            back.samples.map(sm => (sm.sourceId, sm.frameLength * sm.rate))
          }
        }
        decoded.toDF("exporter", "bytes_renorm")
          .groupBy("exporter")
          .agg(count(lit(1)).as("n"), sum("bytes_renorm").as("bytes_renorm"))
      },
      Some(FlowView.cte(
        """SELECT ip_src % 16 AS exporter, count(*) AS n,
           CAST(sum((bytes % 4294967296) *
                (1 + (ip_src % 16 % 4) * 99)) AS BIGINT) AS bytes_renorm
           FROM flows GROUP BY 1""")),
      doc = "sFlow v5 flow samples: codec round-trip + rate renormalization"),

    // pcap savefile round-trip: flows render as Ethernet+IPv4 frames into
    // real pcap savefile bytes (24-byte global header + 16-byte record
    // headers), read back through the savefile parser, link/IP-parsed to
    // flow tuples (ll.c/nl.c projection), aggregated. The oracle derives
    // the same numbers from the underived flows — framing, endianness, or
    // header-walk defects break parity (pcap_loop replay parity,
    // src/pmacctd.c:1278; CONFIG-KEYS:484-524).
    Q("q94_pcap_replay",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (col("bytes") % 65536).as("iplen"), col("t0u"))
          .as[(Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            // one savefile per slice: frames → savefile bytes → read →
            // parse, all inside the partition
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t) =>
              Pcap.frame(Pcap.FlowTuple(sa & 0xffffffffL,
                da & 0xffffffffL, pr.toInt, spp.toInt, dp.toInt, len, t))
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
              .map(f => (f.proto.toLong, f.ipLen, f.tsUs))
          }
        }
        decoded.toDF("proto", "iplen", "tsus")
          .groupBy("proto")
          .agg(count(lit(1)).as("n"), sum("iplen").as("ip_bytes"),
            max("tsus").as("max_ts_us"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n,
           CAST(sum(bytes % 65536) AS BIGINT) AS ip_bytes,
           max(t0u) AS max_ts_us
           FROM flows GROUP BY 1""")),
      doc = "pcap savefile write/read/parse round-trip in the pipeline"),

    // pcapng (sources/Pcap.readNg): the Wireshark-era savefile that
    // libpcap — and therefore the reference's pcap_savefile path —
    // reads transparently: SHB sections (byte-order magic), IDBs with
    // the if_tsresol option, EPBs with 64-bit interface timestamps.
    // Alternate slices write µs-resolution and ns-resolution captures
    // (the ns leg exercises the tsresol divisor), and every file goes
    // through the classic-vs-ng sniffing dispatch the libpcap user
    // gets for free. Oracle identical to q94's: losslessness of the
    // container is the invariant.
    Q("q290_pcapng",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (col("bytes") % 65536).as("iplen"), col("t0u"))
          .as[(Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).zipWithIndex.flatMap { case (batch, slice) =>
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t) =>
              Pcap.frame(Pcap.FlowTuple(sa & 0xffffffffL,
                da & 0xffffffffL, pr.toInt, spp.toInt, dp.toInt, len, t))
            }
            val bytes = Pcap.writeNg(pkts, nanos = slice % 2 == 1)
            val sf = Pcap.readAuto(bytes)
            sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
              .map(f => (f.proto.toLong, f.ipLen, f.tsUs))
          }
        }
        decoded.toDF("proto", "iplen", "tsus")
          .groupBy("proto")
          .agg(count(lit(1)).as("n"), sum("iplen").as("ip_bytes"),
            max("tsus").as("max_ts_us"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n,
           CAST(sum(bytes % 65536) AS BIGINT) AS ip_bytes,
           max(t0u) AS max_ts_us
           FROM flows GROUP BY 1""")),
      doc = "pcapng write/read/parse: SHB + IDB(if_tsresol) + EPB, " +
        "µs and ns legs, classic-vs-ng sniffing"),

    // GPB streaming telemetry: each event encodes as a nested protobuf
    // message (outer: sensor path + row message; inner: typed fields),
    // framed under the v1-shaped telemetry envelope, concatenated into a
    // session stream, deframed and wire-walked back
    // (src/telemetry/telemetry.h:49-53 decoder family; q79 is the JSON
    // leg). Oracle aggregates the underived rows — varint, tag, or
    // framing defects break parity.
    Q("q95_telemetry_gpb",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.TelemetryGpb
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            val stream = batch.map { case (uid, et, b) =>
              val inner = TelemetryGpb.encodeMsg(Seq(
                1 -> uid, 2 -> et, 3 -> b))
              TelemetryGpb.frame(TelemetryGpb.encodeMsg(Seq(
                1 -> "graft/events/stream", 2 -> inner)))
            }.reduce(_ ++ _)
            TelemetryGpb.deframe(stream).iterator.collect {
              case (TelemetryGpb.MsgTypeGpb, payload) =>
                val outer = TelemetryGpb.decodeMsg(payload)
                val inner = TelemetryGpb.decodeMsg(
                  outer(2).head.asInstanceOf[Array[Byte]])
                (inner(1).head.asInstanceOf[Long],
                  TelemetryGpb.str(inner(2).head),
                  inner(3).head.asInstanceOf[Long])
            }
          }
        }
        decoded.toDF("uid", "event_type", "b")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"),
            sum("uid").as("sum_uid"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              CAST(sum(user_id) AS BIGINT) AS sum_uid
              FROM events GROUP BY 1"""),
      doc = "GPB telemetry: protobuf wire walk + envelope deframing"),

    // YANG UDP-notif transport (draft-ietf-netconf-udp-notif; the fourth
    // telemetry decoder family member, telemetry.h:49-53): events render
    // as JSON payloads under the udp-notif header (version/media-type,
    // header length with an options TLV, observation domain, message id),
    // the stream splits and the payloads parse back through from_json.
    Q("q100_udp_notif",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.UdpNotif
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_id", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, Long, String, Long)]
        val payloads = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            val stream = new java.io.ByteArrayOutputStream()
            batch.foreach { case (uid, eid, et, b) =>
              val pkt = UdpNotif.encode(UdpNotif.Packet(
                uid % 8, eid, UdpNotif.MediaJson,
                s"""{"uid":$uid,"et":"$et","b":$b}"""
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8),
                options = Seq(1 -> Array[Byte](0x2a))))
              stream.write(pkt, 0, pkt.length)
            }
            UdpNotif.decodeStream(stream.toByteArray).iterator.map { p =>
              (p.observationDomain, new String(p.payload,
                java.nio.charset.StandardCharsets.UTF_8))
            }
          }
        }.toDF("domain", "payload")
        payloads
          .withColumn("j", from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "uid BIGINT, et STRING, b BIGINT")))
          .groupBy(col("j.et").as("event_type"))
          .agg(count(lit(1)).as("n"), sum("j.b").as("bytes"),
            countDistinct("domain").as("n_domains"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              count(DISTINCT user_id % 8) AS n_domains
              FROM events GROUP BY 1"""),
      doc = "YANG UDP-notif envelope: encode, split, parse JSON payloads"),

    // ZeroMQ broker-bridge telemetry ingest (telemetry.c:120-123 zmq-pull;
    // nfacctd_zmq_*, CONFIG-KEYS:1966-1990): producers publish 2-part
    // [topic][payload] envelopes over ZMTP 3.0 sessions (greeting + NULL
    // READY handshake + multipart frames); the collector decodes the
    // session, routes by topic, and feeds each payload to the matching
    // telemetry decoder — GPB wire walk (q95's codec) or JSON (q79's
    // path). Greeting, handshake-gating, frame-size or multipart defects
    // all break parity with the raw-events oracle.
    Q("q114_zmq_telemetry",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{TelemetryGpb, Zmtp}
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_id", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, Long, String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            val msgs: Seq[Seq[Array[Byte]]] = batch.map {
              case (uid, eid, et, b) =>
                if (eid % 2 == 0)
                  Seq("telemetry/gpb".getBytes("UTF-8"),
                    TelemetryGpb.encodeMsg(Seq(1 -> uid, 2 -> et, 3 -> b)))
                else
                  Seq("telemetry/json".getBytes("UTF-8"),
                    s"""{"uid":$uid,"et":"$et","b":$b}"""
                      .getBytes("UTF-8"))
            }
            Zmtp.decodeSession(Zmtp.session(msgs)).iterator.map { parts =>
              val topic = new String(parts.head, "UTF-8")
              if (topic == "telemetry/gpb") {
                val m = TelemetryGpb.decodeMsg(parts(1))
                ("gpb", m(1).head.asInstanceOf[Long],
                  TelemetryGpb.str(m(2).head),
                  m(3).head.asInstanceOf[Long], null: String)
              } else
                ("json", 0L, null: String, 0L,
                  new String(parts(1), "UTF-8"))
            }
          }
        }.toDF("leg", "uid", "et", "b", "payload")
        decoded
          .withColumn("j", from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "uid BIGINT, et STRING, b BIGINT")))
          .select(col("leg"),
            coalesce(col("j.uid"), col("uid")).as("uid"),
            coalesce(col("j.et"), col("et")).as("event_type"),
            coalesce(col("j.b"), col("b")).as("b"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"),
            sum("uid").as("sum_uid"),
            sum(when(col("leg") === "gpb", 1L).otherwise(0L)).as("n_gpb"),
            sum(when(col("leg") === "json", 1L).otherwise(0L))
              .as("n_json"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              CAST(sum(user_id) AS BIGINT) AS sum_uid,
              CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gpb,
              CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_json
              FROM events GROUP BY 1"""),
      doc = "ZMTP 3.0 broker bridge: topic envelopes into GPB/JSON legs"),

    // gRPC dial-in telemetry transport (telemetry.c:46
    // grpc_collector_input): producers multiplex length-prefixed gRPC
    // messages over HTTP/2 streams; DATA frames are cut at 48 bytes so
    // messages routinely SPAN frames and frames hold partial messages —
    // the decoder must reassemble per stream before the GPB wire walk.
    // Preface, frame-header, stream-mux or length-prefix defects all
    // break parity with the raw-events oracle.
    Q("q115_grpc_telemetry",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{GrpcFrames, TelemetryGpb}
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id as bigint) as uid", "event_type",
            "cast(floor(value * 100) as bigint) as b")
          .as[(Long, String, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(40).flatMap { batch =>
            // one HTTP/2 connection per batch, 8 client streams (odd ids)
            val streams = batch.groupBy(r => 2 * (r._1 % 8) + 1)
              .toSeq.sortBy(_._1)
              .map { case (sid, rs) =>
                val body = new java.io.ByteArrayOutputStream()
                rs.foreach { case (uid, et, b) =>
                  val m = GrpcFrames.grpcMessage(
                    TelemetryGpb.encodeMsg(Seq(1 -> uid, 2 -> et, 3 -> b)))
                  body.write(m, 0, m.length)
                }
                (sid, body.toByteArray)
              }
            GrpcFrames.decode(GrpcFrames.connection(streams, maxFrame = 48))
              .iterator.map { case (sid, payload) =>
                val m = TelemetryGpb.decodeMsg(payload)
                (sid, m(1).head.asInstanceOf[Long],
                  TelemetryGpb.str(m(2).head),
                  m(3).head.asInstanceOf[Long])
              }
          }
        }
        decoded.toDF("sid", "uid", "event_type", "b")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"),
            sum("uid").as("sum_uid"),
            countDistinct("sid").as("n_streams"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes,
              CAST(sum(user_id) AS BIGINT) AS sum_uid,
              count(DISTINCT 2 * (user_id % 8) + 1) AS n_streams
              FROM events GROUP BY 1"""),
      doc = "gRPC/HTTP-2 framing: stream mux + cross-frame reassembly"),

    // sFlow COUNTER samples (tag 2 / generic-if record): the periodic
    // SNMP-style interface stats sFlow exports besides packet samples
    // (src/sfacctd.c counter processing). Gauges encode into datagrams
    // per partition, decode back, and compact to the latest-stats table
    // per (agent, ifIndex) — the state a poller maintains. Oracle
    // derives the same compaction from raw events.
    Q("q106_sflow_counters",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id % 8 as bigint) as agent", "event_id",
            "cast(event_id % 4 as bigint) as if_index",
            "cast(floor(value * 100) as bigint) as in_oct")
          .as[(Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(20).flatMap { batch =>
            val counters = batch.map { case (agent, eid, ifi, oct) =>
              SFlowIfCounters(eid, agent, ifi, 1000L, oct, 1L, 0L, 0L)
            }
            val dg = SFlowV5.encode(SFlowDatagram(
              batch.head._1, 0L, batch.head._2 % 4294967296L, 0L,
              Seq.empty, counters))
            SFlowV5.decode(dg).counters.map(c =>
              (c.sourceId, c.ifIndex, c.seq, c.ifInOctets))
          }
        }
        decoded.toDF("agent", "if_index", "seq", "in_oct")
          .groupBy("agent", "if_index")
          .agg(count(lit(1)).as("n_samples"),
            expr("max_by(in_oct, seq)").as("last_in_octets"),
            sum("in_oct").as("sum_in_octets"))
      },
      Some("""SELECT user_id % 8 AS agent, event_id % 4 AS if_index,
              count(*) AS n_samples,
              CAST(arg_max(CAST(floor(value * 100) AS BIGINT), event_id)
                AS BIGINT) AS last_in_octets,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_in_octets
              FROM events GROUP BY 1, 2"""),
      doc = "sFlow counter samples compacted to latest interface stats"),

    // sFlow extended-gateway records (flow record tag 1003,
    // src/sfv5_module.c): BGP attributes exported inline with the packet
    // sample — pmacct's sfacctd derives peer/origin AS accounting from
    // these without any BGP session. Each sample carries raw-header AND
    // gateway records; decode walks both, origin AS = AS-path last hop,
    // and accounting renormalizes by the decoded sampling rate. The
    // oracle rebuilds the same accounting from raw events: path walk,
    // community counts, or rate defects all break parity.
    Q("q117_sflow_gateway",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id % 8 as bigint) as agent", "event_id",
            "cast(user_id as bigint) as uid",
            "cast(floor(value * 100) as bigint) % 65536 as flen")
          .as[(Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(20).flatMap { batch =>
            val samples = batch.map { case (agent, eid, uid, flen) =>
              SFlowSample(eid, agent, 1L << (uid % 3), 0L, 0L, 1L, 2L,
                1L, flen, Seq.empty,
                gateway = Some(SFlowGateway(
                  nextHop = uid % 256,
                  routerAs = 64512L,
                  srcAs = 65000L + uid % 16,
                  srcPeerAs = 64512L,
                  dstAsPath = Seq(65100L + eid % 4, 65200L + eid % 8),
                  communities = (0 until (eid % 3 + 1).toInt)
                    .map(i => (65200L << 16) | i.toLong),
                  localPref = 100L + eid % 5)))
            }
            val dg = SFlowV5.encode(SFlowDatagram(
              batch.head._1, 0L, batch.head._2 % 4294967296L, 0L, samples))
            SFlowV5.decode(dg).samples.iterator.flatMap { smp =>
              smp.gateway.iterator.map { g =>
                (g.dstAsPath.last, g.srcAs, smp.rate * smp.frameLength,
                  g.communities.size.toLong, g.localPref)
              }
            }
          }
        }
        decoded.toDF("origin_as", "src_as", "renorm_bytes", "n_comm", "lp")
          .groupBy("origin_as")
          .agg(count(lit(1)).as("n"),
            sum("renorm_bytes").as("renorm_bytes"),
            countDistinct("src_as").as("n_src_as"),
            sum("n_comm").as("sum_n_comm"),
            sum("lp").as("sum_localpref"))
      },
      Some("""SELECT 65200 + event_id % 8 AS origin_as, count(*) AS n,
              CAST(sum((1 << (user_id % 3)) *
                (CAST(floor(value * 100) AS BIGINT) % 65536)) AS BIGINT)
                AS renorm_bytes,
              count(DISTINCT 65000 + user_id % 16) AS n_src_as,
              CAST(sum(event_id % 3 + 1) AS BIGINT) AS sum_n_comm,
              CAST(sum(100 + event_id % 5) AS BIGINT) AS sum_localpref
              FROM events GROUP BY 1"""),
      doc = "sFlow extended-gateway: inline BGP attrs, renorm accounting"),

    // pmacct's sFlow enterprise records (sflow.h:294-297, enterprise
    // 43874): EX_TAG = (43874<<12)+2 carries tag+tag2 as two u64s
    // (readExtendedTag, sflow.c:832) — the sfprobe side of the same
    // tag continuity q167 proves for IPFIX — and EX_CLASS2 =
    // (43874<<12)+3 carries the nDPI master/app protocol pair
    // (readExtendedClass2, sflow.c:821). Round trip both records
    // inline with flow samples and aggregate on the recovered tag +
    // app-protocol primitives with renormalized byte counters.
    Q("q169_sflow_pen_tag",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = Tables.events(s, d).selectExpr(
            "cast(user_id % 8 as bigint) as agent", "event_id",
            "cast(user_id % 100 as bigint) as tag",
            "cast(event_id % 50 as bigint) as tag2",
            "cast(event_id % 6 as bigint) as app",
            "cast(floor(value * 100) as bigint) % 65536 as flen")
          .as[(Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(20).flatMap { batch =>
            val samples = batch.map { case (agent, eid, tag, tag2, app, flen) =>
              SFlowSample(eid, agent, 4L, 0L, 0L, 1L, 2L, 1L, flen,
                Seq.empty,
                tagRec = Some((tag, tag2)),
                class2 = Some((177L, app))) // master 177 = custom range
            }
            val dg = SFlowV5.encode(SFlowDatagram(
              batch.head._1, 0L, batch.head._2 % 4294967296L, 0L, samples))
            SFlowV5.decode(dg).samples.iterator.flatMap { smp =>
              for (t <- smp.tagRec.iterator; c <- smp.class2.iterator)
                yield (t._1, t._2, c._1, c._2,
                  smp.rate * smp.frameLength)
            }
          }
        }
        decoded.toDF("tag", "tag2", "master", "app", "renorm_bytes")
          .groupBy("app")
          .agg(count(lit(1)).as("n"), sum("tag").as("sum_tag"),
            sum("tag2").as("sum_tag2"), min("master").as("master"),
            sum("renorm_bytes").as("renorm_bytes"))
      },
      Some("""SELECT event_id % 6 AS app, count(*) AS n,
              CAST(sum(user_id % 100) AS BIGINT) AS sum_tag,
              CAST(sum(event_id % 50) AS BIGINT) AS sum_tag2,
              CAST(177 AS BIGINT) AS master,
              CAST(sum(4 * (CAST(floor(value * 100) AS BIGINT) % 65536))
                AS BIGINT) AS renorm_bytes
              FROM events GROUP BY 1"""),
      doc = "sFlow pmacct-PEN EX_TAG/EX_CLASS2 records round trip"),

    // nfprobe_direction / nfprobe_ifindex (CONFIG-KEYS:2575-2600):
    // direction resolves from the pre_tag_map tag (1=in, 2=out — the
    // documented mapping), ifIndex semi-dynamically from tag2 with the
    // dynamic flow ifindex taking precedence unless _override is set
    // (modeled false, the default). The exporter then writes the
    // v5 input/output fields per direction — in-direction traffic
    // carries ifIndex as input, out-direction as output
    // (nfprobe_plugin.c's direction handling) — and the collector
    // aggregates on the decoded fields.
    Q("q179_probe_direction",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = flows(s, d).select(
            col("event_id"),
            // pre_tag_map: dst-port filter rules -> tag (1=in, 2=out)
            when(col("port_dst").isin(80L, 443L, 8443L), 1L)
              .otherwise(2L).as("tag"),
            (lit(100L) + col("ip_src") % 16).as("tag2"),
            // dynamic ifindex known only for TCP flows here
            when(col("ip_proto") === 6L, col("event_id") % 4 + 1)
              .otherwise(0L).as("dyn_if"),
            col("bytes"), col("packets"))
          .as[(Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(30).flatMap { batch =>
            val recs = batch.map { case (eid, tag, tag2, dynIf, b, p) =>
              val ifx =
                (if (dynIf != 0L) dynIf else tag2).toInt // override off
              val (in, out) =
                if (tag == 1L) (ifx, 0) else (0, ifx)
              V5Record(eid, eid + 1, 0L, in, out, p, b, 0L, 0L,
                0, 0, 0, 6, 0, 0, 0, 24, 24)
            }
            val h = V5Header(5, recs.size, 0L, 0L, 0L,
              batch.head._1 % 4294967296L, 0, 0, 1)
            val dg = NetFlowV5.encode(h, recs)
            NetFlowV5.decode(dg)._2.iterator.map(r =>
              (if (r.ifIn != 0) "in" else "out",
                (r.ifIn + r.ifOut).toLong, r.octets, r.packets))
          }
        }
        decoded.toDF("direction", "ifindex", "bytes", "packets")
          .groupBy("direction", "ifindex")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"),
            sum("packets").as("packets"))
      },
      Some(s"""WITH flows AS (${FlowView.sql}),
            t AS (SELECT
                CASE WHEN port_dst IN (80, 443, 8443) THEN 'in'
                  ELSE 'out' END AS direction,
                CASE WHEN ip_proto = 6 THEN event_id % 4 + 1
                  ELSE 100 + ip_src % 16 END AS ifindex,
                bytes, packets
              FROM flows)
            SELECT direction, ifindex, count(*) AS n,
              CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(sum(packets) AS BIGINT) AS packets
            FROM t GROUP BY 1, 2"""),
      doc = "nfprobe direction/ifindex: tag mapping through v5 in/out"),

    // IPv4 fragment handling (pmacctd_force_frag_handling;
    // src/ip_frag.c find_fragment/create_fragment): fragments key on
    // (ip_id, src, dst, proto); only the FIRST fragment carries the
    // transport header, so ports for later fragments come from the
    // fragment table. Fragments arriving BEFORE the first accumulate
    // bytes/packets in the entry and are credited when the first shows
    // up (fp->a/fp->pa → frag_sum_bytes); datagrams whose first
    // fragment never arrives are orphans (notify_orphan_fragment) and
    // are purged unaccounted. The fixture fragments a quarter of the
    // datagrams 3-way, reorders half of those, orphans half of the
    // reordered — byte totals only reconcile if all three behaviors
    // are right. Real frames: encode → parse (id/offset/MF walk).
    Q("q187_ip_frag",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("event_id"), col("ip_src"), col("ip_dst"),
            col("port_src"), col("port_dst"),
            (col("bytes") % 30000).as("bsz")) // fits the 16-bit ip_len
          .as[(Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.flatMap { case (eid, src, dst, sp_, dp, b) =>
            val frag = eid % 4 == 0
            val reorder = frag && eid % 8 == 0
            val orphan = frag && eid % 16 == 0
            val tup = Pcap.FlowTuple(src, dst, 17, sp_.toInt, dp.toInt,
              b, eid)
            val packets: Seq[Pcap.Packet] =
              if (!frag) Seq(Pcap.frame(tup))
              else {
                val l0 = 20 + b / 3
                val l1 = 20 + b / 3
                val l2 = 20 + b - 2 * (b / 3)
                val id = (eid % 65536).toInt
                val f0 = Pcap.frameFrag(tup.copy(ipLen = l0), id, 0,
                  mf = true)
                val f1 = Pcap.frameFrag(tup.copy(ipLen = l1), id, 100,
                  mf = true)
                val f2 = Pcap.frameFrag(tup.copy(ipLen = l2), id, 200,
                  mf = false)
                if (orphan) Seq(f2, f1)            // first never arrives
                else if (reorder) Seq(f2, f0, f1)  // first arrives late
                else Seq(f0, f1, f2)
              }
            // ip_frag.c fold over THIS datagram's arrival order
            var gotFirst = false
            var ports = (0, 0)
            var accB = 0L
            var outB = 0L
            packets.foreach { p =>
              val (t, _, off8, _) = Pcap.parseFrag(p).get
              if (!frag) { gotFirst = true; ports = (t.portSrc, t.portDst)
                outB += t.ipLen }
              else if (off8 == 0 && !gotFirst) {
                gotFirst = true
                ports = (t.portSrc, t.portDst)
                outB += t.ipLen + accB // credit pre-first accumulation
                accB = 0L
              } else if (gotFirst) outB += t.ipLen
              else accB += t.ipLen // still waiting for the first
            }
            if (gotFirst) Iterator((ports._2.toLong, 1L, outB, 0L, 0L))
            else Iterator((-1L, 0L, 0L, 1L, accB)) // orphaned datagram
          }
        }
        decoded.toDF("port_dst", "n", "bytes", "n_orphans", "orphan_bytes")
          .groupBy("port_dst")
          .agg(sum("n").as("n_datagrams"), sum("bytes").as("bytes"),
            sum("n_orphans").as("n_orphans"),
            sum("orphan_bytes").as("orphan_bytes"))
      },
      Some(FlowView.cte(s"""
            , t AS (SELECT event_id AS eid, port_dst, bytes % 30000 AS bytes,
                event_id % 4 = 0 AS frag,
                event_id % 16 = 0 AND event_id % 4 = 0 AS orphan
              FROM flows)
            SELECT CASE WHEN orphan THEN -1 ELSE port_dst END
                AS port_dst,
              CAST(sum(CASE WHEN orphan THEN 0 ELSE 1 END) AS BIGINT)
                AS n_datagrams,
              CAST(sum(CASE WHEN orphan THEN 0
                   WHEN frag THEN bytes + 60 ELSE bytes END) AS BIGINT)
                AS bytes,
              CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
                AS n_orphans,
              CAST(sum(CASE WHEN orphan
                   THEN 40 + bytes - (bytes // 3) ELSE 0 END) AS BIGINT)
                AS orphan_bytes
            FROM t GROUP BY 1""")),
      doc = "IPv4 fragment table: first-frag ports, pre-first credit, orphans"),

    // nfacctd_templates_receiver / nfacctd_templates_port
    // (CONFIG-KEYS): collectors share template state over the wire —
    // one collector re-encodes its template cache as template-only
    // datagrams for peers, so a collector that has only ever seen DATA
    // sets (e.g. freshly restarted behind a balancer) decodes its
    // buffered sets the moment the receiver feed arrives, without
    // waiting for exporter template refresh. Collector A sees
    // template+data; collector B sees data only, buffers, then
    // receives A's snapshot feed and drains — per-exporter decoded
    // counts must agree between A and B.
    Q("q189_templates_receiver",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.{FieldSpec, IE, TemplateX}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 8).as("exporter"), col("event_id"),
            (col("event_id") % 64).as("pk"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("b"))
          .as[(Long, Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = TemplateX((300 + ex).toInt, Seq(
              FieldSpec(IE.L4SrcPort, 2), FieldSpec(IE.InBytes, 4)))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            // collector A sees the template first and decodes datagrams
            // as the run streams; collector B sees data only — its cache
            // buffers until the receiver feed (A's re-encoded snapshot)
            // drains it at the end
            val a = new NetFlowV9.TemplateCache
            val b = new NetFlowV9.TemplateCache
            var aN = 0L; var aBytes = 0L; var bBefore = 0L
            a.observeX(NetFlowV9.encodeTemplateIpfixX(h, tmpl))
            run.grouped(25).foreach { rs =>
              val dg = NetFlowV9.encodeDataIpfixX(h, tmpl,
                rs.map(r => Map[Long, Any](
                  IE.L4SrcPort.toLong -> r._3, IE.InBytes.toLong -> r._4)))
              a.observeX(dg).foreach { m =>
                aN += 1
                aBytes += m(IE.InBytes.toLong).asInstanceOf[Long]
              }
              bBefore += b.observeX(dg).size
            }
            // receiver feed: A re-encodes its cache; B drains on it
            val feed = a.templatesSnapshot.map(t =>
              NetFlowV9.encodeTemplateIpfixX(
                h.copy(sourceId = t.domain), t.template))
            val bAfter = feed.flatMap(b.observeX)
            Iterator((ex, aN, bBefore, bAfter.size.toLong, aBytes,
              bAfter.map(m => m(IE.InBytes.toLong).asInstanceOf[Long]).sum))
          }
        }
        decoded.toDF("exporter", "a_decoded", "b_before_feed",
            "b_after_feed", "a_bytes", "b_bytes")
          .select(col("exporter"), col("a_decoded"), col("b_before_feed"),
            col("b_after_feed"), col("a_bytes"), col("b_bytes"))
      },
      // B's pre-feed buffer is BOUNDED (MaxPendingPerTemplate = 64 data
      // sets per missing template, oldest dropped — the real collector's
      // memory guard): when the feed finally arrives, B drains only the
      // newest 64 datagrams of the run. The oracle models exactly that —
      // records batch 25 per datagram in (exporter, event_id) run order
      // (SessionWalk's sort), and only the last-64-datagram tail counts
      // toward b_after_feed/b_bytes. (Caught at sf0.1: the old oracle
      // assumed B drains everything, which only held while a run fit the
      // buffer.)
      Some("""WITH e AS (SELECT user_id % 8 AS exporter,
                CAST(floor(value * 100) AS BIGINT) AS b,
                row_number() OVER (PARTITION BY user_id % 8
                  ORDER BY event_id) - 1 AS rn,
                count(*) OVER (PARTITION BY user_id % 8) AS n
              FROM events),
            k AS (SELECT exporter, b, rn // 25 AS dg,
                (n + 24) // 25 AS nd FROM e)
            SELECT exporter, count(*) AS a_decoded,
              CAST(0 AS BIGINT) AS b_before_feed,
              count(CASE WHEN dg >= nd - 64 THEN 1 END) AS b_after_feed,
              CAST(sum(b) AS BIGINT) AS a_bytes,
              CAST(sum(CASE WHEN dg >= nd - 64 THEN b END) AS BIGINT)
                AS b_bytes
              FROM k GROUP BY 1"""),
      doc = "templates_receiver: cross-collector template feed drains" +
        " the bounded buffer"),

    // aggregate_unknown_etype (CONFIG-KEYS): frames whose EtherType has
    // no L3 decoder (ARP, LLDP, proprietary) are dropped by default;
    // with the knob on they aggregate on the Ethernet header fields
    // (src_mac/dst_mac/vlan/etype). Mixed capture: IPv4 frames take the
    // normal tuple path, everything else goes through the L2 view —
    // including a VLAN-tagged LLDP case, so the tag walk must run
    // before the etype decision.
    Q("q190_unknown_etype",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = Tables.events(s, d).select(
            col("event_id"), col("user_id"),
            (lit(64L) + col("event_id") % 100).as("flen"),
            (lit(1L) + col("user_id") % 30).as("vlan"))
          .as[(Long, Long, Long, Long)]
        val decoded = rows.mapPartitions(_.map {
          case (eid, uid, flen, vlanIn) =>
            val srcMac = 0xAA0000000000L | (uid % 256)
            def rawFrame(etype: Int, vlan: Int): Pcap.Packet = {
              val b = java.nio.ByteBuffer.allocate(
                14 + (if (vlan != 0) 4 else 0) + 8)
              (0 until 6).foreach(i =>
                b.put(((0xBB0000000000L >> (40 - 8 * i)) & 0xff).toByte))
              (0 until 6).foreach(i =>
                b.put(((srcMac >> (40 - 8 * i)) & 0xff).toByte))
              if (vlan != 0) {
                b.putShort(0x8100.toShort)
                b.putShort(vlan.toShort)
              }
              b.putShort(etype.toShort)
              Pcap.Packet(eid, flen, b.array())
            }
            val p = (eid % 4) match {
              case 0 => Pcap.frame(Pcap.FlowTuple(uid, uid + 1, 17,
                1000, 53, flen, eid))
              case 1 => rawFrame(0x0806, 0)          // ARP
              case 2 => rawFrame(0x88CC, vlanIn.toInt) // LLDP, tagged
              case _ => rawFrame(0x9999, 0)          // proprietary
            }
            Pcap.parse(p) match {
              case Some(t) => (2048L, 0L, t.ipLen, -1L)
              case None =>
                val l2 = Pcap.parseL2(p).get
                (l2.etype.toLong, l2.vlan.toLong, l2.frameLen,
                  l2.srcMac & 0xff)
            }
        })
        decoded.toDF("etype", "vlan", "flen", "mac_low")
          .groupBy("etype", "vlan")
          .agg(count(lit(1)).as("n"), sum("flen").as("bytes"),
            countDistinct("mac_low").as("n_src_macs"))
      },
      Some("""WITH e AS (SELECT event_id AS eid, user_id AS uid,
                64 + event_id % 100 AS flen,
                1 + user_id % 30 AS vlan FROM events),
            t AS (SELECT
                CASE eid % 4 WHEN 0 THEN 2048 WHEN 1 THEN 2054
                  WHEN 2 THEN 35020 ELSE 39321 END AS etype,
                CASE WHEN eid % 4 = 2 THEN vlan ELSE 0 END AS vlan,
                flen,
                CASE WHEN eid % 4 = 0 THEN -1 ELSE uid % 256 END
                  AS mac_low
              FROM e)
            SELECT etype, vlan, count(*) AS n,
              CAST(sum(flen) AS BIGINT) AS bytes,
              count(DISTINCT mac_low) AS n_src_macs
            FROM t GROUP BY 1, 2"""),
      doc = "aggregate_unknown_etype: L2-keyed accounting for undecoded frames"),

    // IPv6 fragment handling — the find_fragment6 lane of
    // src/ip_frag.c: v6 fragments ride the RFC 8200 fragment extension
    // header (next-header 44, 13-bit offset in 8-byte units, M flag,
    // 32-bit identification), keyed (identification, src, dst). Same
    // table semantics as the v4 lane (q187): first fragment supplies
    // the transport header, pre-first bytes accumulate and credit on
    // its arrival, first-less datagrams purge as orphans. Real frames
    // both ways: the EH encode/parse is load-bearing.
    Q("q191_ip6_frag",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("event_id"), col("ip_src"), col("ip_dst"),
            col("port_src"), col("port_dst"),
            (col("bytes") % 30000).as("bsz"))
          .as[(Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.flatMap { case (eid, src, dst, sp_, dp, b) =>
            val frag = eid % 4 == 0
            val reorder = frag && eid % 8 == 0
            val orphan = frag && eid % 16 == 0
            val tup = Pcap.FlowTuple(src, dst, 17, sp_.toInt, dp.toInt,
              40L + b, eid, af = 6)
            val packets: Seq[Pcap.Packet] =
              if (!frag) Seq(Pcap.frameExt(tup))
              else {
                val l0 = 48 + b / 3
                val l1 = 48 + b / 3
                val l2 = 48 + b - 2 * (b / 3)
                val id = eid % 4294967296L
                val f0 = Pcap.frameFrag6(tup.copy(ipLen = l0), id, 0,
                  m = true)
                val f1 = Pcap.frameFrag6(tup.copy(ipLen = l1), id, 100,
                  m = true)
                val f2 = Pcap.frameFrag6(tup.copy(ipLen = l2), id, 200,
                  m = false)
                if (orphan) Seq(f2, f1)
                else if (reorder) Seq(f2, f0, f1)
                else Seq(f0, f1, f2)
              }
            var gotFirst = false
            var ports = (0, 0)
            var accB = 0L
            var outB = 0L
            packets.foreach { p =>
              if (!frag) {
                val t = Pcap.parse(p).get
                gotFirst = true; ports = (t.portSrc, t.portDst)
                outB += t.ipLen
              } else {
                val (t, _, off8, _) = Pcap.parseFrag6(p).get
                if (off8 == 0 && !gotFirst) {
                  gotFirst = true
                  ports = (t.portSrc, t.portDst)
                  outB += t.ipLen + accB
                  accB = 0L
                } else if (gotFirst) outB += t.ipLen
                else accB += t.ipLen
              }
            }
            if (gotFirst) Iterator((ports._2.toLong, 1L, outB, 0L, 0L))
            else Iterator((-1L, 0L, 0L, 1L, accB))
          }
        }
        decoded.toDF("port_dst", "n", "bytes", "n_orphans", "orphan_bytes")
          .groupBy("port_dst")
          .agg(sum("n").as("n_datagrams"), sum("bytes").as("bytes"),
            sum("n_orphans").as("n_orphans"),
            sum("orphan_bytes").as("orphan_bytes"))
      },
      Some(FlowView.cte(s"""
            , t AS (SELECT event_id AS eid, port_dst,
                bytes % 30000 AS bytes,
                event_id % 4 = 0 AS frag,
                event_id % 16 = 0 AND event_id % 4 = 0 AS orphan
              FROM flows)
            SELECT CASE WHEN orphan THEN -1 ELSE port_dst END
                AS port_dst,
              CAST(sum(CASE WHEN orphan THEN 0 ELSE 1 END) AS BIGINT)
                AS n_datagrams,
              CAST(sum(CASE WHEN orphan THEN 0
                   WHEN frag THEN bytes + 144 ELSE bytes + 40 END)
                AS BIGINT) AS bytes,
              CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
                AS n_orphans,
              CAST(sum(CASE WHEN orphan
                   THEN 96 + bytes - (bytes // 3) ELSE 0 END) AS BIGINT)
                AS orphan_bytes
            FROM t GROUP BY 1""")),
      doc = "IPv6 fragment EH lane: same table semantics as v4 (q187)"),

    // Config-file veneer: a pmacct plugin config drives the engine
    // end-to-end (aggregate / aggregate_filter / history / preprocess).
    Q("q58_config_driven",
      (s, d) => graft.core.ConfigSpec.run(flows(s, d),
        """! pmacct-style plugin config
          |aggregate: dst_port, proto
          |aggregate_filter: bytes > 1000 and not udp
          |kafka_history: 1h
          |preprocess: minb=100000
          |""".stripMargin),
      Some(FlowView.cte(
        """SELECT ((t0u - t0u % 3600000000) // 3600000000) * 3600
             AS bin_start,
           port_dst AS dst_port, ip_proto AS proto,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST(sum(packets) AS BIGINT) AS packets,
           count(*) AS flows, bit_or(tcp_flags) AS tcp_flags,
           min(t0u) AS ts_min_us, max(t1u) AS ts_max_us
           FROM flows WHERE bytes > 1000 AND NOT ip_proto = 17
           GROUP BY 1, 2, 3
           HAVING CAST(sum(bytes) AS BIGINT) >= 100000""")),
      doc = "pmacct config text driving the full aggregation pipeline"),

    // Extended config veneer: pre_tag_map rules, tag filter, and
    // sampling renormalization from the same config text — the rest of
    // a collector's plugin stanza running unchanged (CONFIG-KEYS:2234,
    // 2312, 2358).
    Q("q109_config_tagged",
      (s, d) => graft.core.ConfigSpec.run(flows(s, d),
        """! tagging + tag filter + renormalization
          |aggregate: tag, proto
          |pre_tag_map: set_tag=100 filter='tcp'; set_tag=200 ip=5
          |pre_tag_filter: 100,200
          |sampling_rate: 2
          |""".stripMargin),
      Some(FlowView.cte(
        """SELECT tag, ip_proto AS proto,
           CAST(sum(bytes * 2) AS BIGINT) AS bytes,
           CAST(sum(packets * 2) AS BIGINT) AS packets,
           count(*) AS flows, bit_or(tcp_flags) AS tcp_flags,
           min(t0u) AS ts_min_us, max(t1u) AS ts_max_us
           FROM (SELECT *, CASE WHEN ip_proto = 6 THEN 100
               WHEN ip_src % 16 = 5 THEN 200 ELSE 0 END AS tag
             FROM flows)
           WHERE tag IN (100, 200) GROUP BY 1, 2""")),
      doc = "config veneer: pre_tag_map + tag filter + sampling renorm"),

    // NAT event logging (NEL): a CGN reports session create/delete events
    // over NetFlow v9 with post-NAT IEs (postNATSourceIPv4Address=225,
    // postNAPTSourceTransportPort=227, natEvent=230 — the reference's
    // registry src/nfv9_template.h:149-154, handlers
    // NF_post_nat_src_host_handler / NF_nat_event_handler,
    // src/pkt_handlers.c:4301-4313). Each flow yields a create event
    // (counters unknown → 0) and a delete event carrying the session
    // octets; both ride the real v9 codec per exporter, and the aggregate
    // checks event counts, distinct pool addresses, and octet sums.
    Q("q120_nat_event",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            (col("ip_src") % 8).as("exporter"), col("event_id"),
            (lit(1681915904L) + col("ip_src") % 1024).as("pns"), // 100.64/10 pool
            (lit(1024L) + (col("port_src") * 7) % 60000).as("pnp"),
            (col("bytes") % 4294967296L).as("octets"))
          .as[(Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(270, Seq(
              IE.NatEvent -> 1, IE.PostNatSrcAddr -> 4,
              IE.PostNatSrcPort -> 2, IE.InBytes -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            // each flow logs a create (event 1, no octets) and a delete
            // (event 2) record: 12 flows fill one 24-record datagram
            val data = run.grouped(12).map(b => NetFlowV9.encodeData(h, tmpl,
              b.flatMap(r => Seq(
                Map(IE.NatEvent -> 1L, IE.PostNatSrcAddr -> r._3,
                  IE.PostNatSrcPort -> r._4, IE.InBytes -> 0L),
                Map(IE.NatEvent -> 2L, IE.PostNatSrcAddr -> r._3,
                  IE.PostNatSrcPort -> r._4, IE.InBytes -> r._5)))))
            (Iterator.single(NetFlowV9.encodeTemplate(h, tmpl)) ++ data)
              .flatMap(cache.observe)
              .map(m => (m(IE.NatEvent), m(IE.PostNatSrcAddr),
                m(IE.PostNatSrcPort), m(IE.InBytes)))
          }
        }
        decoded.toDF("nat_event", "pns", "pnp", "octets")
          .groupBy("nat_event")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("pns")).as("n_pool_ips"),
            countDistinct(col("pnp")).as("n_pool_ports"),
            sum("octets").as("octets"))
      },
      Some(FlowView.cte(
        """SELECT nat_event, count(*) AS n,
           count(DISTINCT pns) AS n_pool_ips,
           count(DISTINCT pnp) AS n_pool_ports,
           CAST(sum(oc) AS BIGINT) AS octets
           FROM (
             SELECT 1 AS nat_event, 1681915904 + ip_src % 1024 AS pns,
                    1024 + (port_src * 7) % 60000 AS pnp, 0 AS oc
             FROM flows
             UNION ALL
             SELECT 2, 1681915904 + ip_src % 1024,
                    1024 + (port_src * 7) % 60000, bytes % 4294967296
             FROM flows)
           GROUP BY 1""")),
      doc = "NAT event logging (NEL): post-NAT IEs through the v9 codec"),

    // Firewall event logging (NSEL): firewallEvent (IE 233) + RFC 7270
    // forwardingStatus (IE 89: 2-bit status class in the top bits, 6-bit
    // reason code) — reference handlers NF_fw_event_handler
    // (src/pkt_handlers.c:4323) and NF_fwd_status_handler (:3190), which
    // accepts 1/2/4-byte encodings but keeps only values <= 255. Denied
    // flows report a dropped status (class 2) with a reason; permitted
    // flows a forwarded status (class 1). The aggregate groups by
    // (fw_event, status class) exactly like `aggregate: fw_event,
    // fwd_status` would.
    Q("q121_fw_event",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            (col("ip_dst") % 8).as("exporter"), col("event_id"),
            when(col("tcp_flags") % 8 >= 4, 3L)
              .otherwise(lit(1L) + col("event_id") % 2).as("fw_event"),
            col("event_id"), (col("bytes") % 4294967296L).as("octets"))
          .as[(Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(271, Seq(
              IE.FwEvent -> 1, IE.FwdStatus -> 1, IE.InBytes -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(30).map(b => NetFlowV9.encodeData(h, tmpl,
              b.map { r =>
                val fwd = if (r._3 == 3L) 128L + r._4 % 4 // dropped + reason
                          else 64L + r._4 % 2             // forwarded
                Map(IE.FwEvent -> r._3, IE.FwdStatus -> fwd,
                  IE.InBytes -> r._5)
              }))
            (Iterator.single(NetFlowV9.encodeTemplate(h, tmpl)) ++ data)
              .flatMap(cache.observe)
              .map(m => (m(IE.FwEvent), m(IE.FwdStatus), m(IE.InBytes)))
          }
        }
        decoded.toDF("fw_event", "fwd_status", "octets")
          .groupBy(col("fw_event"),
            (col("fwd_status").cast("long") / 64).cast("long")
              .as("fwd_class"))
          .agg(count(lit(1)).as("n"), sum("octets").as("octets"),
            countDistinct(col("fwd_status")).as("n_reasons"))
      },
      Some(FlowView.cte(
        """SELECT fw_event, fwd_status // 64 AS fwd_class, count(*) AS n,
           CAST(sum(oc) AS BIGINT) AS octets,
           count(DISTINCT fwd_status) AS n_reasons
           FROM (
             SELECT CASE WHEN tcp_flags % 8 >= 4 THEN 3
                         ELSE 1 + event_id % 2 END AS fw_event,
                    CASE WHEN tcp_flags % 8 >= 4 THEN 128 + event_id % 4
                         ELSE 64 + event_id % 2 END AS fwd_status,
                    bytes % 4294967296 AS oc
             FROM flows)
           GROUP BY 1, 2""")),
      doc = "firewall events (NSEL): fw_event + RFC 7270 fwd_status classes"),

    // sFlow v2/v4 legacy ingest (process_SFv2v4_packet,
    // src/sfacctd.c:1494; readv2v4FlowSample :2816): the pre-v5 format
    // sfacctd still accepts — no per-sample lengths, decoded
    // INMPACKETTYPE_IPV4 tuples instead of raw headers, extended-switch
    // VLANs inline. Mixed v2/v4 exporters encode real datagrams, decode
    // through the legacy walker, renormalize by meanSkipCount, and
    // aggregate per (proto, in_vlan bucket) — any walk misalignment
    // (the format's defining hazard, since nothing is length-delimited)
    // breaks parity.
    Q("q124_sflow_v2v4",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val rows = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            col("ip_proto"), col("ip_src"), col("ip_dst"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            col("tcp_flags"), (col("bytes") % 4294967296L).as("frame_len"),
            (col("ip_dst") % 4096).as("vlan"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(12).flatMap { batch =>
            val samples = batch.map { case (ex, eid, pr, si, di, sp_, dp, fl, fr, vl) =>
              SFlowV2V4Sample(eid % 4294967296L, ex, 1L + (ex % 3L),
                0L, 0L, 1L, 2L, fr, pr, si, di, sp_, dp, fl, 0L, vl, vl)
            }
            val ex = batch.head._1
            val dg = SFlowV5.encodeV2V4(SFlowV2V4Datagram(
              if (ex % 2 == 0) 2L else 4L, // even agents speak v2, odd v4
              ex, batch.head._2 % 4294967296L, 0L, samples, Seq.empty))
            val back = SFlowV5.decodeV2V4(dg)
            back.samples.map(sm => (sm.proto, sm.inVlan % 8,
              sm.frameLength * sm.rate, sm.rate))
          }
        }
        decoded.toDF("proto", "vlan_bucket", "bytes_renorm", "pkts_renorm")
          .groupBy("proto", "vlan_bucket")
          .agg(count(lit(1)).as("n"),
            sum("bytes_renorm").as("bytes_renorm"),
            sum("pkts_renorm").as("pkts_renorm"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, (ip_dst % 4096) % 8 AS vlan_bucket,
           count(*) AS n,
           CAST(sum((bytes % 4294967296) * (1 + ip_src % 16 % 3))
             AS BIGINT) AS bytes_renorm,
           CAST(sum(1 + ip_src % 16 % 3) AS BIGINT) AS pkts_renorm
           FROM flows GROUP BY 1, 2""")),
      doc = "sFlow v2/v4 legacy decode: IPv4 tuples, switch VLANs, renorm"),

    // nfprobe NetFlow v9 EXPORT (src/nfprobe_plugin/netflow9.c — the v9
    // sibling of the v5 exporter q46/q47 already cover): the flow cache
    // aggregates per (src, dst, proto), flows are packed into v9 data
    // flowsets, and the template is (re)sent every
    // nf9_pkts_until_template packets (netflow9.c:231,2204-2261 —
    // NF9_DEFAULT_TEMPLATE_INTERVAL). A collector-side TemplateCache
    // consumes the interleaved stream; re-registration of a refreshed
    // template must be idempotent or counts double.
    Q("q125_nfprobe_v9",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val cacheRows = flows(s, d)
          .groupBy((col("ip_src") % 64).as("exporter"), col("ip_src"),
            col("ip_dst"), col("ip_proto"))
          .agg((sum(col("bytes")) % 4294967296L).as("oc"),
            (sum(col("packets")) % 4294967296L).as("pk"))
          .as[(Long, Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessionsAll(cacheRows)
          .mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(272, Seq(
              IE.Ipv4SrcAddr -> 4, IE.Ipv4DstAddr -> 4, IE.Protocol -> 1,
              IE.InBytes -> 4, IE.InPkts -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val tDg = NetFlowV9.encodeTemplate(h, tmpl)
            val cache = new NetFlowV9.TemplateCache
            // template before the first data packet, then refreshed
            // every 4 data packets (pkts_until_template semantics)
            run.grouped(20).zipWithIndex.flatMap { case (b, i) =>
              val dg = NetFlowV9.encodeData(h, tmpl, b.map(r => Map(
                IE.Ipv4SrcAddr -> r._2, IE.Ipv4DstAddr -> r._3,
                IE.Protocol -> r._4, IE.InBytes -> r._5, IE.InPkts -> r._6)))
              if (i % 4 == 0) Iterator(tDg, dg) else Iterator.single(dg)
            }.flatMap(cache.observe)
              .map(m => (m(IE.Protocol), m(IE.InBytes), m(IE.InPkts)))
          }
        }
        decoded.toDF("proto", "octets", "packets")
          .groupBy("proto")
          .agg(count(lit(1)).as("n_flows"), sum("octets").as("octets"),
            sum("packets").as("packets"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n_flows,
           CAST(sum(oc) AS BIGINT) AS octets,
           CAST(sum(pk) AS BIGINT) AS packets
           FROM (SELECT ip_proto,
                   CAST(sum(bytes) AS BIGINT) % 4294967296 AS oc,
                   CAST(sum(packets) AS BIGINT) % 4294967296 AS pk
                 FROM flows GROUP BY ip_src, ip_dst, ip_proto)
           GROUP BY 1""")),
      doc = "nfprobe v9 export: flow cache to v9 flowsets, template refresh"),

    // Link-layer breadth in the pcap path: 802.1Q VLAN tags
    // (src/ll.c:65-71, eth_handler tag walk) and IPv6 frames
    // (src/ll.c:57-59 -> ip6_handler, src/nl.c) in one capture mix —
    // tagged/untagged, v4/v6 frames built, written to a savefile, read
    // back and parsed per partition, then aggregated per (af, tagged).
    // A parse that mis-walks the 4-byte tag or the 40-byte v6 header
    // shifts every field after it and breaks parity.
    Q("q128_pcap_vlan6",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (lit(40L) + col("bytes") % 60000).as("iplen"), col("t0u"),
            when(col("event_id") % 3 === 0, 6L).otherwise(4L).as("af"),
            when(col("event_id") % 2 === 0,
              lit(1L) + col("ip_dst") % 4094).otherwise(0L).as("vlan"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t, af, vl) =>
              Pcap.frameExt(Pcap.FlowTuple(sa, da, pr.toInt, spp.toInt,
                dp.toInt, len, t, af.toInt, vl.toInt))
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
              .map(f => (f.af.toLong, if (f.vlan > 0) 1L else 0L, f.ipLen))
          }
        }
        decoded.toDF("af", "tagged", "iplen")
          .groupBy("af", "tagged")
          .agg(count(lit(1)).as("n"), sum("iplen").as("ip_bytes"))
      },
      Some(FlowView.cte(
        """SELECT CASE WHEN event_id % 3 = 0 THEN 6 ELSE 4 END AS af,
           CAST(event_id % 2 = 0 AS BIGINT) AS tagged, count(*) AS n,
           CAST(sum(40 + bytes % 60000) AS BIGINT) AS ip_bytes
           FROM flows GROUP BY 1, 2""")),
      doc = "pcap parse breadth: 802.1Q tags + IPv6 frames in one capture"),

    // VXLAN tunnel decap (src/nl.c:307-311: dst_port == UDP_PORT_VXLAN
    // and the I flag set -> inner frame becomes the accounted packet;
    // registered via vxlan_tunnel_configurator, src/nl.c:41): inner
    // flows are wrapped in outer Eth/IPv4/UDP:4789/VXLAN, one in five
    // packets stays un-encapsulated, and accounting groups by
    // (VNI bucket, inner proto) — only decapped frames may contribute.
    Q("q129_tunnel_decap",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (col("bytes") % 60000).as("iplen"), col("t0u"),
            (col("event_id") % 5 === 0).as("plain"),
            (col("ip_dst") % 256).as("vni"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Boolean, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t, plain, vni) =>
              val inner = Pcap.frame(Pcap.FlowTuple(sa & 0xffffffffL,
                da & 0xffffffffL, pr.toInt, spp.toInt, dp.toInt, len, t))
              if (plain) inner
              else Pcap.frameVxlan(sa % 4, 1L, vni, t, inner)
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(Pcap.parseVxlan)
              .map { case (vni, f) => (vni % 16, f.proto.toLong, f.ipLen) }
          }
        }
        decoded.toDF("vni_bucket", "proto", "iplen")
          .groupBy("vni_bucket", "proto")
          .agg(count(lit(1)).as("n"), sum("iplen").as("inner_bytes"))
      },
      Some(FlowView.cte(
        """SELECT (ip_dst % 256) % 16 AS vni_bucket, ip_proto AS proto,
           count(*) AS n,
           CAST(sum(bytes % 60000) AS BIGINT) AS inner_bytes
           FROM flows WHERE event_id % 5 != 0 GROUP BY 1, 2""")),
      doc = "VXLAN decap: VNI + inner tuple accounting, plain frames excluded"),

    // GTP-U decap (gtp_tunnel_func, src/nl.c:750-800; registered in the
    // tunnel_registry src/nl.c:40): the mobile-core sibling of q129 —
    // outer UDP:2152, version from flags>>5 (v1 = 8-byte header + TEID),
    // and the payload walks straight into IP with NO inner Ethernet
    // (the structural difference from VXLAN). Per-bearer accounting
    // groups by TEID bucket and inner proto.
    Q("q130_gtp_decap",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (col("bytes") % 60000).as("iplen"), col("t0u"),
            (col("ip_src") % 65536).as("teid"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t, teid) =>
              val inner = Pcap.innerIpv4(Pcap.FlowTuple(sa & 0xffffffffL,
                da & 0xffffffffL, pr.toInt, spp.toInt, dp.toInt, len, t))
              Pcap.frameGtp(sa % 8, 2L, teid, t, inner)
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(Pcap.parseGtp)
              .map { case (teid, f) => (teid % 32, f.proto.toLong, f.ipLen) }
          }
        }
        decoded.toDF("teid_bucket", "proto", "iplen")
          .groupBy("teid_bucket", "proto")
          .agg(count(lit(1)).as("n"), sum("iplen").as("inner_bytes"))
      },
      Some(FlowView.cte(
        """SELECT (ip_src % 65536) % 32 AS teid_bucket, ip_proto AS proto,
           count(*) AS n,
           CAST(sum(bytes % 60000) AS BIGINT) AS inner_bytes
           FROM flows GROUP BY 1, 2""")),
      doc = "GTP-U decap: per-TEID inner-IP accounting (no inner link layer)"),

    // ICMP type/code accounting: pmacctd captures icmp_type/icmp_code
    // (src/nl.c:365-372 -> pkt_extras, src/network.h:395) and nfprobe
    // packs them into the destination-port slot as type<<8|code
    // (src/nfprobe_plugin/nfprobe_plugin.c:290-292) — the classic
    // NetFlow convention. Echo, unreachable and time-exceeded frames go
    // through the savefile round-trip; accounting groups per
    // (icmp_type, icmp_code) recovered from the port slot.
    Q("q134_icmp_codes",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val tc = when(col("event_id") % 4 === 0, lit(8L * 256))
          .when(col("event_id") % 4 === 1, lit(0L))
          .when(col("event_id") % 4 === 2, lit(3L * 256) + col("event_id") % 8)
          .otherwise(lit(11L * 256) + col("event_id") % 2)
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), tc.as("tc"),
            (col("bytes") % 60000).as("iplen"), col("t0u"))
          .as[(Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            val pkts = batch.map { case (sa, da, tc, len, t) =>
              // ICMP header: the first short IS type<<8|code, so the
              // builder's portSrc slot writes it verbatim
              Pcap.frame(Pcap.FlowTuple(sa & 0xffffffffL, da & 0xffffffffL,
                1, tc.toInt, 0, len, t))
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
              .map(f => (f.portDst >> 8, f.portDst & 0xff, f.ipLen))
          }
        }
        decoded.toDF("icmp_type", "icmp_code", "iplen")
          .groupBy("icmp_type", "icmp_code")
          .agg(count(lit(1)).as("n"), sum("iplen").as("bytes"))
      },
      Some(FlowView.cte(
        """SELECT tc // 256 AS icmp_type, tc % 256 AS icmp_code,
           count(*) AS n, CAST(sum(bytes % 60000) AS BIGINT) AS bytes
           FROM (SELECT bytes,
               CASE WHEN event_id % 4 = 0 THEN 8 * 256
                    WHEN event_id % 4 = 1 THEN 0
                    WHEN event_id % 4 = 2 THEN 3 * 256 + event_id % 8
                    ELSE 11 * 256 + event_id % 2 END AS tc
             FROM flows)
           GROUP BY 1, 2""")),
      doc = "ICMP type/code accounting via the nfprobe port-slot convention"),

    // Collector health accounting (xflow_status_table.tot_bad_datagrams,
    // src/xflow_status.h:106; every malformed-input site in nfacctd
    // bumps it and DISCARDS — never crashes): a ninth of the exporters'
    // datagrams arrive truncated mid-header; the decoder must drop
    // exactly those and decode everything else. The gate proves the
    // discard-not-throw hardening end-to-end: sent/decoded/dropped per
    // exporter match the oracle's arithmetic over which records were
    // corrupted.
    Q("q137_collector_health",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            col("ip_proto"), (col("bytes") % 4294967296L).as("oc"),
            (col("event_id") % 9 === 0).as("corrupt"))
          .as[(Long, Long, Long, Long, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(273, Seq(
              IE.Protocol -> 1, IE.InBytes -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            var nSent = 0L; var nDecoded = 0L; var octets = 0L
            def observe(dg: Array[Byte]): Unit =
              cache.observe(dg).foreach { m =>
                nDecoded += 1; octets += m(IE.InBytes)
              }
            observe(NetFlowV9.encodeTemplate(h, tmpl))
            // corrupt records ride their own datagrams, truncated to 12
            // bytes — the decoder must drop them whole
            run.grouped(20).foreach { b =>
              nSent += b.size
              val (bad, good) = b.partition(_._5)
              for ((rs, truncate) <- Seq(good -> false, bad -> true)
                   if rs.nonEmpty) {
                val dg = NetFlowV9.encodeData(h, tmpl,
                  rs.map(r => Map(IE.Protocol -> r._3, IE.InBytes -> r._4)))
                observe(if (truncate) dg.take(12) else dg)
              }
            }
            Iterator.single((ex, nSent, nDecoded, nSent - nDecoded,
              octets))
          }
        }
        decoded.toDF("exporter", "n_sent", "n_decoded", "n_dropped",
          "octets")
      },
      Some(FlowView.cte(
        """SELECT ip_src % 16 AS exporter, count(*) AS n_sent,
           CAST(sum(CASE WHEN event_id % 9 != 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_decoded,
           CAST(sum(CASE WHEN event_id % 9 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN event_id % 9 != 0 THEN bytes % 4294967296
             ELSE 0 END) AS BIGINT) AS octets
           FROM flows GROUP BY 1""")),
      doc = "bad-datagram health: truncated input dropped, rest decoded"),

    // Absolute flow timestamps: NF9_FIRST/LAST_SWITCHED_MSEC (152/153,
    // src/nfv9_template.h:128-131) as 8-byte IEs — the modern exporter
    // form where flow times are epoch-absolute, not sysuptime-relative
    // (the handler accepts 4- or 8-byte encodings,
    // src/pkt_handlers.c:3389-3394). History binning and duration sums
    // run on the DECODED milliseconds; a byte-order or width defect in
    // the 8-byte path shifts every bin and breaks parity.
    Q("q139_abs_timestamps",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        val rows = flows(s, d).select(
            (col("ip_src") % 16).as("exporter"), col("event_id"),
            expr("t0u div 1000").as("t0ms"),
            expr("t1u div 1000").as("t1ms"),
            (col("bytes") % 4294967296L).as("oc"))
          .as[(Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = NetFlowV9.Template(275, Seq(
              IE.FirstSwitchedMsec -> 8, IE.LastSwitchedMsec -> 8,
              IE.InBytes -> 4))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(20).map(b => NetFlowV9.encodeData(h, tmpl,
              b.map(r => Map(IE.FirstSwitchedMsec -> r._3,
                IE.LastSwitchedMsec -> r._4, IE.InBytes -> r._5))))
            // 5-minute bins on the DECODED epoch milliseconds
            (Iterator.single(NetFlowV9.encodeTemplate(h, tmpl)) ++ data)
              .flatMap(cache.observe)
              .map(m => ((m(IE.FirstSwitchedMsec) / 300000L) * 300L,
                m(IE.InBytes),
                m(IE.LastSwitchedMsec) - m(IE.FirstSwitchedMsec)))
          }
        }
        decoded.toDF("bin_start", "octets", "dur_ms")
          .groupBy("bin_start")
          .agg(count(lit(1)).as("n"), sum("octets").as("octets"),
            sum("dur_ms").as("dur_ms"))
      },
      Some(FlowView.cte(
        """SELECT (t0u // 1000 // 300000) * 300 AS bin_start,
           count(*) AS n,
           CAST(sum(bytes % 4294967296) AS BIGINT) AS octets,
           CAST(sum(t1u // 1000 - t0u // 1000) AS BIGINT) AS dur_ms
           FROM flows GROUP BY 1""")),
      doc = "absolute-time IEs (152/153, 8-byte): binning on decoded epochs"),

    // QinQ double tagging (802.1AD S-tag + 802.1Q C-tag — outer walk
    // ll.c:65-71, cvlan_ptr ll.c:45; cvlan is a first-class primitive,
    // pkt_tunnel_primitives §1.1): provider frames carry both tags,
    // plain customer frames one or none; accounting groups by
    // (S-VLAN, C-VLAN bucket) — a parse that mis-walks either 4-byte
    // tag shifts the IP header and breaks parity.
    Q("q140_qinq",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.Pcap
        val rows = flows(s, d).select(
            col("ip_src"), col("ip_dst"), col("ip_proto"),
            (col("port_src") % 65536).as("sport"), col("port_dst"),
            (lit(40L) + col("bytes") % 60000).as("iplen"), col("t0u"),
            when(col("event_id") % 3 === 0, lit(1L) + col("ip_src") % 7)
              .otherwise(0L).as("svlan"),
            when(col("event_id") % 3 === 0, lit(1L) + col("ip_dst") % 5)
              .otherwise(0L).as("cvlan"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        val decoded = rows.mapPartitions { it =>
          it.grouped(50).flatMap { batch =>
            val pkts = batch.map { case (sa, da, pr, spp, dp, len, t, sv, cv) =>
              Pcap.frameExt(Pcap.FlowTuple(sa & 0xffffffffL,
                da & 0xffffffffL, pr.toInt, spp.toInt, dp.toInt, len, t,
                4, sv.toInt, cv.toInt))
            }
            val sf = Pcap.read(Pcap.write(pkts))
            sf.packets.flatMap(p => Pcap.parse(p, sf.linkType))
              .map(f => (f.vlan.toLong, f.cvlan.toLong, f.ipLen))
          }
        }
        decoded.toDF("svlan", "cvlan", "iplen")
          .groupBy("svlan", "cvlan")
          .agg(count(lit(1)).as("n"), sum("iplen").as("ip_bytes"))
      },
      Some(FlowView.cte(
        """SELECT CASE WHEN event_id % 3 = 0 THEN 1 + ip_src % 7
                  ELSE 0 END AS svlan,
           CASE WHEN event_id % 3 = 0 THEN 1 + ip_dst % 5
                  ELSE 0 END AS cvlan,
           count(*) AS n,
           CAST(sum(40 + bytes % 60000) AS BIGINT) AS ip_bytes
           FROM flows GROUP BY 1, 2""")),
      doc = "QinQ: S-tag + C-tag walk, cvlan as a grouping primitive"),

    // IPFIX biflows (RFC 5103): ONE record carries both directions —
    // forward counters as ordinary IEs, reverse counters as the same IE
    // ids under the reverse PEN 29305 (reverse octetDeltaCount /
    // packetDeltaCount). pmacct exports/decodes these when biflows are
    // enabled on IPFIX paths; the record rides the existing IPFIX
    // PEN-scoped template machinery (q91). The oracle derives the same
    // per-proto direction totals and asymmetric-biflow count from the
    // raw rows — a PEN-key or direction-slot mixup breaks parity.
    Q("q154_ipfix_biflow",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.{FieldSpec, IE, TemplateX}
        val rows = flows(s, d).select(
            (col("ip_src") % 8).as("exporter"), col("event_id"),
            col("ip_proto"), col("port_dst"),
            (col("bytes") % 4294967296L).as("fwd_b"), col("packets"),
            // reverse leg derived deterministically from the flow: acks
            // are smaller and absent for one flow in five
            when(col("event_id") % 5 === 0, 0L)
              .otherwise(col("bytes") % 1000L + 40L).as("rev_b"),
            when(col("event_id") % 5 === 0, 0L)
              .otherwise(expr("1 + packets div 2")).as("rev_p"))
          .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        val revB = FieldSpec(IE.InBytes, 4, pen = 29305L)
        val revP = FieldSpec(IE.InPkts, 4, pen = 29305L)
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val tmpl = TemplateX(300, Seq(
              FieldSpec(IE.Protocol, 1), FieldSpec(IE.L4DstPort, 2),
              FieldSpec(IE.InBytes, 4), FieldSpec(IE.InPkts, 4),
              revB, revP))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            val data = run.grouped(25).map(b => NetFlowV9.encodeDataIpfixX(
              h, tmpl, b.map(r => Map[Long, Any](
                IE.Protocol.toLong -> r._3, IE.L4DstPort.toLong -> r._4,
                IE.InBytes.toLong -> r._5, IE.InPkts.toLong -> r._6,
                revB.key -> r._7, revP.key -> r._8))))
            (Iterator.single(NetFlowV9.encodeTemplateIpfixX(h, tmpl)) ++
              data)
              .flatMap(cache.observeX)
              .map { m =>
                val rb = m(revB.key).asInstanceOf[Long]
                (m(IE.Protocol.toLong).asInstanceOf[Long],
                  m(IE.InBytes.toLong).asInstanceOf[Long],
                  m(IE.InPkts.toLong).asInstanceOf[Long],
                  rb, m(revP.key).asInstanceOf[Long],
                  if (rb == 0L) 1L else 0L)
              }
          }
        }
        decoded.toDF("proto", "fwd_b", "fwd_p", "rev_b", "rev_p",
            "oneway")
          .groupBy("proto")
          .agg(count(lit(1)).as("n"),
            sum("fwd_b").as("fwd_bytes"), sum("rev_b").as("rev_bytes"),
            sum("fwd_p").as("fwd_pkts"), sum("rev_p").as("rev_pkts"),
            sum("oneway").as("n_oneway"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, count(*) AS n,
           CAST(sum(bytes % 4294967296) AS BIGINT) AS fwd_bytes,
           CAST(sum(CASE WHEN event_id % 5 = 0 THEN 0
             ELSE bytes % 1000 + 40 END) AS BIGINT) AS rev_bytes,
           CAST(sum(packets) AS BIGINT) AS fwd_pkts,
           CAST(sum(CASE WHEN event_id % 5 = 0 THEN 0
             ELSE 1 + packets // 2 END) AS BIGINT) AS rev_pkts,
           CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_oneway
           FROM flows GROUP BY 1""")),
      doc = "RFC 5103 biflows: reverse-PEN 29305 IEs in one record"),

    // Bad-datagram health accounting (xflow_status tot_bad_datagrams,
    // src/xflow_status.h:106): every 7th event's v9 datagram arrives
    // CUT INSIDE ITS HEADER. The hardened TemplateCache must (a) not
    // die, (b) decode every intact datagram, and (c) account each
    // discard in badDatagrams — the oracle checks flows AND discards
    // per exporter, so a codec that silently swallowed good data or
    // miscounted bad data breaks parity. SessionWalk shape: 64 session
    // keys, lazy run iterator, O(record) task memory.
    Q("q241_bad_datagram_accounting",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.IE
        import graft.operators.SessionWalk
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("exporter"), col("event_id"))
          .as[(Long, Long)]
        SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val t = NetFlowV9.Template(700,
              Seq(IE.Protocol -> 1, IE.InBytes -> 8))
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val cache = new NetFlowV9.TemplateCache
            cache.observe(NetFlowV9.encodeTemplate(h, t))
            var flows = 0L
            var sumB = 0L
            run.foreach { case (_, eid) =>
              val dg = NetFlowV9.encodeData(h, t,
                Seq(Map(IE.Protocol -> 6L, IE.InBytes -> eid)))
              val wire = if (eid % 7 == 0) java.util.Arrays.copyOf(dg, 10)
                         else dg
              val out = cache.observe(wire)
              flows += out.size
              out.foreach(m => sumB += m(IE.InBytes))
            }
            Iterator.single((ex, flows, sumB, cache.badDatagrams))
          }
        }.toDF("exporter", "n_flows", "sum_b", "n_bad")
          .groupBy("exporter")
          .agg(sum("n_flows").as("n_flows"), sum("sum_b").as("sum_b"),
            sum("n_bad").as("n_bad"))
      },
      Some("""SELECT user_id % 64 AS exporter,
          count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS n_flows,
          CAST(sum(CASE WHEN event_id % 7 <> 0 THEN event_id
            ELSE 0 END) AS BIGINT) AS sum_b,
          count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS n_bad
          FROM events GROUP BY 1"""),
      doc = "bad-datagram accounting: discards counted, intact flows kept"),

    // nfprobe IPFIX (v10) export — the reference's DEFAULT nfprobe_version
    // (CONFIG-KEYS:2542-2549). Beyond the v9 sibling (q125), IPFIX is
    // where the pmacct CUSTOM types live: tag/tag2/label ride only under
    // the pmacct PEN 43874 (src/nfprobe_plugin/netflow9.c:152-156
    // "supported in IPFIX only with pmacct PEN"; nfv9_template.h:31), the
    // label as a variable-length IE whose value INCLUDES the trailing NUL
    // (flow_to_flowset_label_handler, netflow9.c:476-496: len=strlen+1).
    // Sampling renorm arrives via the IPFIX options template (set id 3,
    // sampler scope) carrying SAMPLER_ID/MODE/INTERVAL (netflow9.c:
    // 1563-1571), matched to data records through IE 48; flows that
    // arrive BEFORE the option record buffer their raw counts and
    // renormalize when it lands — the reference's renormalization module
    // keyed off the sampler table. Exporter side re-sends both templates
    // every 4 data sets (NF9_DEFAULT_TEMPLATE_INTERVAL rhythm, id 1024 /
    // 4096 per netflow9.c:199-201); re-registration must stay idempotent.
    // SessionWalk shape: 64 session keys, lazy run iterator, O(chunk +
    // flows held for the option record) task memory.
    Q("q247_nfprobe_ipfix",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import NetFlowV9.{FieldSpec, IE, TemplateX, VarLen}
        val cacheRows = flows(s, d)
          .groupBy((col("ip_src") % 64).as("exporter"), col("ip_src"),
            col("ip_dst"), col("ip_proto"))
          .agg((sum(col("bytes")) % 4294967296L).as("oc"),
            (sum(col("packets")) % 4294967296L).as("pk"),
            (max(col("ip_dst")) % 100000L).as("tag"))
          .as[(Long, Long, Long, Long, Long, Long, Long)]
        val decoded = SessionWalk.sessionsAll(cacheRows)
          .mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (ex, run) =>
            val PmacctPen = 43874L
            val tagF = FieldSpec(1, 8, pen = PmacctPen)   // NF9_CUST_TAG
            val labF = FieldSpec(3, VarLen, pen = PmacctPen) // NF9_CUST_LABEL
            val tmpl = TemplateX(1024, Seq(
              FieldSpec(IE.Ipv4SrcAddr, 4), FieldSpec(IE.Ipv4DstAddr, 4),
              FieldSpec(IE.Protocol, 1), FieldSpec(IE.InBytes, 4),
              FieldSpec(IE.InPkts, 4), FieldSpec(48, 1), // samplerId
              tagF, labF))
            // options: scope = samplerId, then mode + interval
            val optTmpl = TemplateX(4096, Seq(
              FieldSpec(48, 1), FieldSpec(49, 1), FieldSpec(50, 4)),
              scopeCount = 1)
            val interval = 1L + ex % 3
            val h = NetFlowV9.V9Header(0L, 0L, 0L, ex)
            val templates = Seq(NetFlowV9.encodeTemplateIpfixX(h, tmpl),
              NetFlowV9.encodeOptionsTemplateIpfix(h, optTmpl))
            val option = NetFlowV9.encodeDataIpfixX(h, optTmpl,
              Seq(Map[Long, Any](48L -> 1L, 49L -> 2L, 50L -> interval)))
            // both templates ride ahead of every 4th data set; the option
            // DATA record lands only after the second, or closes a
            // shorter run — early flows must buffer, then renorm
            var n = 0
            val dgs = run.grouped(20).flatMap { b =>
              n += 1
              val dg = NetFlowV9.encodeDataIpfixX(h, tmpl, b.map(r =>
                Map[Long, Any](
                  IE.Ipv4SrcAddr.toLong -> r._2,
                  IE.Ipv4DstAddr.toLong -> r._3,
                  IE.Protocol.toLong -> r._4, IE.InBytes.toLong -> r._5,
                  IE.InPkts.toLong -> r._6, 48L -> 1L, tagF.key -> r._7,
                  labF.key -> (s"et${r._4}" + "\u0000"))))
              (if (n % 4 == 1) templates else Nil) ++ Seq(dg) ++
                (if (n == 2) Seq(option) else Nil)
            } ++ (if (n < 2) Iterator.single(option) else Iterator.empty)
            // sampler table + pre-option buffer, as the collector keeps
            val cache = new NetFlowV9.TemplateCache
            val samplers = scala.collection.mutable.Map[Long, Long]()
            // (samplerId, (proto, label, octets, packets, tag))
            val held = scala.collection.mutable.ArrayBuffer[
              (Long, (Long, String, Long, Long, Long))]()
            def renorm(f: (Long, String, Long, Long, Long), ivl: Long) =
              (f._1, f._2, f._3 * ivl, f._4 * ivl, f._5)
            dgs.flatMap(cache.observeX).flatMap { m =>
              val sid = m(48L).asInstanceOf[Long]
              if (m.contains(50L)) {
                // option record: register sampler, renorm held flows
                val ivl = m(50L).asInstanceOf[Long]
                samplers(sid) = ivl
                val now = held.filter(_._1 == sid)
                held.filterInPlace(_._1 != sid)
                now.map(f => renorm(f._2, ivl))
              } else {
                // C-string vlen: strip the wire's trailing NUL
                val f = (m(IE.Protocol.toLong).asInstanceOf[Long],
                  m(labF.key).asInstanceOf[String].stripSuffix("\u0000"),
                  m(IE.InBytes.toLong).asInstanceOf[Long],
                  m(IE.InPkts.toLong).asInstanceOf[Long],
                  m(tagF.key).asInstanceOf[Long])
                samplers.get(sid) match {
                  case Some(ivl) => Seq(renorm(f, ivl))
                  case None => held += (sid -> f); Nil
                }
              }
            }
          }
        }
        decoded.toDF("proto", "label", "octets", "packets", "tag")
          .groupBy("proto", "label")
          .agg(count(lit(1)).as("n_flows"), sum("octets").as("octets"),
            sum("packets").as("packets"), sum("tag").as("sum_tag"))
      },
      Some(FlowView.cte(
        """SELECT ip_proto AS proto, 'et' || ip_proto AS label,
           count(*) AS n_flows,
           CAST(sum(oc * ivl) AS BIGINT) AS octets,
           CAST(sum(pk * ivl) AS BIGINT) AS packets,
           CAST(sum(tg) AS BIGINT) AS sum_tag
           FROM (SELECT ip_proto,
                   CAST(sum(bytes) AS BIGINT) % 4294967296 AS oc,
                   CAST(sum(packets) AS BIGINT) % 4294967296 AS pk,
                   CAST(max(ip_dst) AS BIGINT) % 100000 AS tg,
                   1 + (ip_src % 64) % 3 AS ivl
                 FROM flows GROUP BY ip_src, ip_dst, ip_proto)
           GROUP BY 1, 2""")),
      doc = "nfprobe IPFIX export: PEN tag + vlen label, sampler options")
  )
}
