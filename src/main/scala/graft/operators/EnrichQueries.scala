package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{FlowView, Q, Tables}
import graft.core.AggregatePlanner.sumScaled
import graft.maps.Dims
import graft.plans.Lpm

/** Enrichment joins (SURVEY §2.6): every pmacct lookup-map becomes a
  * broadcast dimension (or a plan-resident LPM table); all joins here are
  * broadcast — NO shuffle on the fact side, which is the property that must
  * hold on a 1000-executor 100 TB scan.
  *
  * The exporter of a flow is modeled as `ip_src % 16` (16 synthetic
  * exporters), mirrored verbatim in the oracle SQL.
  */
object EnrichQueries {

  private def flows(s: org.apache.spark.sql.SparkSession, d: String) =
    FlowView.fromEvents(Tables.events(s, d)).withColumn(
      "exporter", col("ip_src") % 16)

  private val flowsSqlCte =
    s"WITH flows AS (SELECT *, ip_src % 16 AS exporter FROM (${FlowView.sql}))"

  /** DuckDB longest-prefix-match scalar subquery over a prefix dim. */
  private def lpmSql(dim: String, ip: String, value: String): String =
    s"""(SELECT n.$value FROM $dim n
        WHERE ((($ip) >> (16 - n.len)) << (16 - n.len)) = n.base
        ORDER BY n.len DESC LIMIT 1)"""

  private val netTable = new Lpm.Table(16, Dims.networkPrefixes)
  private val ribTable = new Lpm.Table(17, Dims.ribPrefixes17)
  private val roaTable = new Lpm.Table(16, Dims.roaStateByNetwork)

  val all: Seq[Q] = Seq(

    // Generic fact⋈dim enrichment on the TPC-H tables: lineitem enriched
    // with part attributes, dim broadcast (pmacct shape: record + map).
    Q("q19_enrich_bcast",
      (s, d) => Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sumScaled(col("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT p_brand,
              CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
                AS sum_qty,
              count(*) AS n
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand"""),
      doc = "broadcast dimension enrichment join"),

    // networks_file LPM — join strategy: one broadcast LEFT join per
    // distinct mask length, longest-first coalesce (src/net_aggr.c:895).
    Q("q20_networks_lpm",
      (s, d) => Lpm.joinLongestMatch(flows(s, d), Dims.networks(s),
          col("ip_src"), Dims.networkLens, 16, Seq("asn"),
          _ => "asn_src")
        .groupBy("asn_src")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.networksSql}
            SELECT ${lpmSql("networks", "f.ip_src", "asn")} AS asn_src,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows f GROUP BY asn_src"""),
      doc = "networks_file LPM via chained broadcast joins"),

    // networks_file LPM — native Catalyst Expression strategy: the prefix
    // table rides in the plan, lookup inside whole-stage codegen
    // (SURVEY §4 custom inventory item 1).
    Q("q21_lpm_expr",
      (s, d) => flows(s, d)
        .withColumn("asn_dst", Lpm.lpm(col("ip_dst"), netTable))
        .groupBy("asn_dst")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.networksSql}
            SELECT ${lpmSql("networks", "f.ip_dst", "asn")} AS asn_dst,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows f GROUP BY asn_dst"""),
      doc = "networks_file LPM via native codegen Expression"),

    // nfacctd_allow_file: accept only listed exporters (CONFIG-KEYS:2003).
    Q("q22_allow_list",
      (s, d) => flows(s, d)
        .join(broadcast(Dims.allowList(s)), Seq("exporter"), "left_semi")
        .groupBy("exporter")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.allowSql}
            SELECT exporter, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows WHERE exporter IN (SELECT exporter FROM allow_list)
            GROUP BY exporter"""),
      doc = "exporter allow-list semi-join"),

    // networks_file_filter: drop records whose src AND dst both miss the
    // networks table (CONFIG-KEYS:1054-1060).
    Q("q23_networks_filter",
      (s, d) => flows(s, d)
        .withColumn("asn_src", Lpm.lpm(col("ip_src"), netTable))
        .withColumn("asn_dst", Lpm.lpm(col("ip_dst"), netTable))
        .filter(col("asn_src").isNotNull || col("asn_dst").isNotNull)
        .groupBy()
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.networksSql}
            SELECT count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes FROM (
              SELECT bytes,
                ${lpmSql("networks", "f.ip_src", "asn")} AS asn_src,
                ${lpmSql("networks", "f.ip_dst", "asn")} AS asn_dst
              FROM flows f)
            WHERE asn_src IS NOT NULL OR asn_dst IS NOT NULL"""),
      doc = "networks_file_filter: drop double-miss records"),

    // GeoIP via a REAL MaxMind-DB binary: the networks prefix table is
    // written as spec-conformant .mmdb bytes (tree + data section +
    // metadata), broadcast to executors, and each flow resolves through
    // the bit-tree walk — the libmaxminddb lookup path
    // (CONFIG-KEYS:3363-3371) with the database format itself exercised,
    // not a synthetic range table. Oracle derives the same mapping via
    // LPM SQL over the identical prefix rows.
    Q("q96_geoip_mmdb",
      (s, d) => {
        val sp = s
        import sp.implicits._
        // 16-bit test prefix space lifted into the top bits of IPv4
        val mmdb = graft.maps.Mmdb.build(Dims.networkPrefixes.map {
          case (base, len, asn) =>
            (base << 16, len,
              Map[String, Any]("country" -> s"C${asn % 7}", "asn" -> asn))
        })
        val rows = flows(s, d).select(col("ip_src"), col("bytes"))
          .as[(Long, Long)]
        rows.mapPartitions { it =>
          val reader = new graft.maps.Mmdb.Reader(mmdb)
          it.map { case (ip, bytes) =>
            val hit = reader.lookup(ip << 16)
            (hit.map(_("country").asInstanceOf[String]).orNull,
              hit.fold(0L)(_("asn").asInstanceOf[Long]), bytes)
          }
        }.toDF("country", "asn", "bytes")
          .groupBy("country")
          .agg(count(lit(1)).as("n"), sum("asn").as("sum_asn"),
            sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, ${Dims.networksSql}
            SELECT CASE WHEN asn IS NULL THEN NULL
                     ELSE 'C' || CAST(asn % 7 AS VARCHAR) END AS country,
              count(*) AS n,
              CAST(sum(coalesce(asn, 0)) AS BIGINT) AS sum_asn,
              CAST(sum(bytes) AS BIGINT) AS bytes
            FROM (SELECT bytes,
                ${lpmSql("networks", "f.ip_src", "asn")} AS asn
              FROM flows f)
            GROUP BY country"""),
      doc = "GeoIP through real MaxMind-DB bytes: build, broadcast, walk"),

    // sampling_map renormalization: exporter → rate, counters × rate
    // (NF_sampling_rate_handler src/pkt_handlers.c:3690;
    // counters_renormalize_handler :1773).
    Q("q24_sampling_renorm",
      (s, d) => flows(s, d)
        .join(broadcast(Dims.samplingMap(s)), Seq("exporter"))
        .groupBy("exporter")
        .agg(max("rate").as("rate"),
          sum(col("bytes") * col("rate")).as("bytes_renorm"),
          sum(col("packets") * col("rate")).as("packets_renorm")),
      Some(s"""$flowsSqlCte, ${Dims.samplingSql}
            SELECT f.exporter, max(m.rate) AS rate,
              CAST(sum(f.bytes * m.rate) AS BIGINT) AS bytes_renorm,
              CAST(sum(f.packets * m.rate) AS BIGINT) AS packets_renorm
            FROM flows f JOIN sampling_map m ON f.exporter = m.exporter
            GROUP BY f.exporter"""),
      doc = "sampling_map lookup + counter renormalization"),

    // GeoIP-style range join: [ip_lo, ip_hi] → country. Scale path: explode
    // ranges into fixed-width buckets, equi-join on bucket (broadcast),
    // refine with BETWEEN — turns a non-equi range join into an equi join
    // (CONFIG-KEYS:3363-3371).
    Q("q25_geo_range",
      (s, d) => {
        val b = Dims.geoBucket
        val geoBuckets = Dims.geo(s).withColumn("bucket",
          explode(expr(s"sequence(ip_lo div $b, ip_hi div $b)")))
        flows(s, d)
          .join(broadcast(geoBuckets),
            expr(s"ip_src div $b") === col("bucket") &&
              col("ip_src").between(col("ip_lo"), col("ip_hi")),
            "left")
          .groupBy("country")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, ${Dims.geoSql}
            SELECT g.country, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows f LEFT JOIN geo g
              ON f.ip_src BETWEEN g.ip_lo AND g.ip_hi
            GROUP BY g.country"""),
      doc = "geo range join via bucketed equi-join"),

    // bgp_agent_map + per-peer RIB lookup: exporter → peer, then keyed LPM
    // over the (peer, ip) product space in ONE probe
    // (bgp_srcdst_lookup src/bgp/bgp_lookup.c:33, bta :66-85).
    Q("q26_rib_lookup",
      (s, d) => flows(s, d)
        .join(broadcast(Dims.bgpAgentMap(s)), Seq("exporter"))
        .withColumn("peer_dst_as",
          Lpm.lpm(col("peer") * 65536L + col("ip_dst"), ribTable))
        .groupBy("peer", "peer_dst_as")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.bgpAgentSql}, ${Dims.ribSql}
            SELECT b.peer,
              (SELECT r.origin_as FROM rib r WHERE r.peer = b.peer
                 AND ((f.ip_dst >> (16 - r.len)) << (16 - r.len)) = r.base
               ORDER BY r.len DESC LIMIT 1) AS peer_dst_as,
              count(*) AS n, CAST(sum(f.bytes) AS BIGINT) AS bytes
            FROM flows f JOIN bgp_agent_map b ON f.exporter = b.exporter
            GROUP BY 1, 2"""),
      doc = "BGP RIB lookup: agent map + keyed LPM expression"),

    // bgp_follow_nexthop: bounded recursive next-hop resolution, depth 3
    // (bgp_follow_nexthop_lookup src/bgp/bgp_lookup.c:480).
    Q("q27_follow_nexthop",
      (s, d) => {
        val nh0 = when(col("ip_dst") % 11 === 0, 10L)
          .when(col("ip_dst") % 11 === 1, 20L)
          .when(col("ip_dst") % 11 === 2, 40L)
          .when(col("ip_dst") % 11 === 3, 50L)
        val start = flows(s, d).withColumn("cur", nh0)
        val resolved = (1 to 3).foldLeft(start) { (acc, h) =>
          val dim = Dims.nexthops(s)
            .select(col("nh").as(s"__nh$h"), col("nh_next").as(s"__nn$h"))
          acc.join(broadcast(dim), col("cur") === col(s"__nh$h"), "left")
            .withColumn("cur", coalesce(col(s"__nn$h"), col("cur")))
            .drop(s"__nh$h", s"__nn$h")
        }
        resolved.groupBy(col("cur").as("nh_final"))
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, ${Dims.nexthopsSql},
            s0 AS (SELECT bytes,
              CASE WHEN ip_dst % 11 = 0 THEN 10 WHEN ip_dst % 11 = 1 THEN 20
                   WHEN ip_dst % 11 = 2 THEN 40 WHEN ip_dst % 11 = 3 THEN 50
              END AS cur FROM flows),
            s1 AS (SELECT bytes, coalesce(n.nh_next, s0.cur) AS cur
                   FROM s0 LEFT JOIN nexthops n ON s0.cur = n.nh),
            s2 AS (SELECT bytes, coalesce(n.nh_next, s1.cur) AS cur
                   FROM s1 LEFT JOIN nexthops n ON s1.cur = n.nh),
            s3 AS (SELECT bytes, coalesce(n.nh_next, s2.cur) AS cur
                   FROM s2 LEFT JOIN nexthops n ON s2.cur = n.nh)
            SELECT cur AS nh_final, count(*) AS n,
              CAST(sum(bytes) AS BIGINT) AS bytes
            FROM s3 GROUP BY cur"""),
      doc = "bounded recursive next-hop resolution (3 hops)"),

    // RPKI ROA validation (src/rpki/): validate the *route* (networks_file
    // entry) once at plan build, then per-record state is a single LPM
    // probe — 1=valid 2=invalid 3=unknown, misses are unknown.
    Q("q28_rpki_roa",
      (s, d) => flows(s, d)
        .withColumn("roa_state",
          coalesce(Lpm.lpm(col("ip_dst"), roaTable), lit(3L)))
        .groupBy("roa_state")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte, ${Dims.networksSql}, ${Dims.roasSql},
            m AS (SELECT f.bytes,
              (SELECT max(n.len) FROM networks n
               WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS nlen,
              ${lpmSql("networks", "f.ip_dst", "asn")} AS nasn,
              (SELECT arg_max(n.base, n.len) FROM networks n
               WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS nbase
              FROM flows f)
            SELECT CASE
              WHEN nlen IS NULL THEN 3
              WHEN EXISTS (SELECT 1 FROM roas r WHERE r.len <= m.nlen
                AND ((m.nbase >> (16 - r.len)) << (16 - r.len)) = r.base
                AND r.asn = m.nasn AND m.nlen <= r.max_len) THEN 1
              WHEN EXISTS (SELECT 1 FROM roas r WHERE r.len <= m.nlen
                AND ((m.nbase >> (16 - r.len)) << (16 - r.len)) = r.base)
                THEN 2
              ELSE 3 END AS roa_state,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM m GROUP BY 1"""),
      doc = "RPKI ROA validation as plan-time route validation + LPM"),

    // RPKI RTR live session (RFC 8210; src/rpki/rpki_msg.c) — q28's ROA
    // table fed by the wire protocol instead of rpki_roas_file: a two-
    // epoch session (reset sync announcing the full set, then a serial
    // sync withdrawing one ROA and announcing another) is encoded to
    // bytes, decoded back, folded announce/withdraw into the live ROA
    // set, and flows validate against THAT set. The oracle hardcodes the
    // expected post-session set — any codec or fold defect changes the
    // validation distribution and breaks parity. The 16-bit flow space
    // maps to the top 16 bits of the 32-bit wire prefix (base << 16).
    Q("q111_rpki_rtr",
      (s, d) => {
        import graft.sources.RtrMsg
        import graft.sources.RtrMsg._
        val up = (b: Long) => b << 16
        val session: Seq[Pdu] = Seq(
          // epoch 1: client reset query, cache responds with full set
          ResetQuery, CacheResponse(42),
          Ipv4Prefix(announce = true, 2, 6, up(0L), 65001L),
          Ipv4Prefix(announce = true, 2, 4, up(16384L), 65002L),
          Ipv4Prefix(announce = true, 3, 10, up(40960L), 65202L),
          Ipv4Prefix(announce = true, 10, 16, up(65024L), 65401L),
          // a v6 ROA rides the same session; the v4 table ignores it
          Ipv6Prefix(announce = true, 32, 48,
            Array.tabulate[Byte](16)(i => (0x20 - i).toByte), 65500L),
          EndOfData(42, 1L, 3600L, 600L, 7200L),
          // epoch 2: cache notifies, client serial-queries, delta arrives
          SerialNotify(42, 2L), SerialQuery(42, 1L), CacheResponse(42),
          Ipv4Prefix(announce = false, 2, 4, up(16384L), 65002L), // withdraw
          Ipv4Prefix(announce = true, 8, 12, up(43008L), 65301L),
          EndOfData(42, 2L, 3600L, 600L, 7200L))
        val wire = session.map(RtrMsg.encode).reduce(_ ++ _)
        val pdus = RtrMsg.decodeStream(wire)
        require(pdus.size == session.size, "RTR round-trip lost PDUs")
        val serial = pdus.reverse.collectFirst {
          case EndOfData(_, sn, _, _, _) => sn }.get
        // live ROA set back into 16-bit flow space, then the same
        // plan-time route validation as q28 against the RTR-fed set
        val roaSet = RtrMsg.applyV4(pdus).toSeq
          .map { case (p, l, m, a) => (p >> 16, l, m, a) }
        val table = new Lpm.Table(16, Dims.roaStatesFor(roaSet))
        flows(s, d)
          .withColumn("roa_state",
            coalesce(Lpm.lpm(col("ip_dst"), table), lit(3L)))
          .groupBy("roa_state")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
          .withColumn("serial", lit(serial))
      },
      Some({
        // expected post-session ROA set, stated independently of the codec
        val rtrRoasSql = Dims.values("roas", Seq("base", "len", "max_len",
          "asn"), Seq(
          Seq(0L, 2L, 6L, 65001L),
          Seq(40960L, 3L, 10L, 65202L),
          Seq(65024L, 10L, 16L, 65401L),
          Seq(43008L, 8L, 12L, 65301L)))
        s"""$flowsSqlCte, ${Dims.networksSql}, $rtrRoasSql,
            m AS (SELECT f.bytes,
              (SELECT max(n.len) FROM networks n
               WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS nlen,
              ${lpmSql("networks", "f.ip_dst", "asn")} AS nasn,
              (SELECT arg_max(n.base, n.len) FROM networks n
               WHERE ((f.ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS nbase
              FROM flows f)
            SELECT CASE
              WHEN nlen IS NULL THEN 3
              WHEN EXISTS (SELECT 1 FROM roas r WHERE r.len <= m.nlen
                AND ((m.nbase >> (16 - r.len)) << (16 - r.len)) = r.base
                AND r.asn = m.nasn AND m.nlen <= r.max_len) THEN 1
              WHEN EXISTS (SELECT 1 FROM roas r WHERE r.len <= m.nlen
                AND ((m.nbase >> (16 - r.len)) << (16 - r.len)) = r.base)
                THEN 2
              ELSE 3 END AS roa_state,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(2 AS BIGINT) AS serial
            FROM m GROUP BY 1"""
      }),
      doc = "RFC 8210 RTR session: wire codec -> live ROA set -> validate"),

    // tmp_asa_bi_flow: pair forward/reverse flows — the one fact-fact
    // correlation in the reference (CONFIG-KEYS:3712). Site-level (mod 256)
    // pairing; a genuine shuffle join on the pair key.
    Q("q29_biflow",
      (s, d) => {
        val f = flows(s, d).select(
          col("event_id"), (col("ip_src") % 256).as("site_src"),
          (col("ip_dst") % 256).as("site_dst"), col("bytes"))
        val f1 = f.select(col("event_id").as("id1"),
          col("site_src").as("a"), col("site_dst").as("b"),
          col("bytes").as("bytes1"))
        val f2 = f.select(col("event_id").as("id2"),
          col("site_src").as("b2"), col("site_dst").as("a2"),
          col("bytes").as("bytes2"))
        f1.join(f2, col("a") === col("a2") && col("b") === col("b2") &&
            col("id1") < col("id2"))
          .groupBy()
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("bytes1") + col("bytes2")).as("bytes_total"))
      },
      Some(s"""$flowsSqlCte
            SELECT count(*) AS n_pairs,
              CAST(sum(f1.bytes + f2.bytes) AS BIGINT) AS bytes_total
            FROM flows f1 JOIN flows f2
              ON f1.ip_src % 256 = f2.ip_dst % 256
             AND f1.ip_dst % 256 = f2.ip_src % 256
             AND f1.event_id < f2.event_id"""),
      doc = "bi-flow pairing: fact-fact self-join on reversed key"),

    // Spatial aggregation: account by the LPM-resolved prefix itself —
    // pmacct's net_src/mask_src output shape ("cast into broader
    // entities", docs/INTERNALS:23-38; FIXTURES F1).
    Q("q78_net_agg",
      (s, d) => Lpm.joinLongestMatch(flows(s, d), Dims.networks(s),
          col("ip_src"), Dims.networkLens, 16, Seq("base", "len"))
        .groupBy(col("base").as("net_src"), col("len").as("mask_src"))
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"),
          sum("packets").as("packets")),
      Some(s"""$flowsSqlCte, ${Dims.networksSql}
            SELECT
              (SELECT arg_max(n.base, n.len) FROM networks n
               WHERE ((f.ip_src >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS net_src,
              (SELECT max(n.len) FROM networks n
               WHERE ((f.ip_src >> (16 - n.len)) << (16 - n.len)) = n.base)
                AS mask_src,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(sum(packets) AS BIGINT) AS packets
            FROM flows f GROUP BY 1, 2"""),
      doc = "spatial aggregation by LPM-resolved prefix (net/mask keys)"),

    // GeoIP coords: country + lat/lon primitives
    // (src/network.h:460-468; CONFIG-KEYS:3363-3371).
    Q("q77_geo_coords",
      (s, d) => {
        val b = Dims.geoBucket
        val geoBuckets = Dims.geo(s).withColumn("bucket",
          explode(expr(s"sequence(ip_lo div $b, ip_hi div $b)")))
        flows(s, d)
          .join(broadcast(geoBuckets),
            expr(s"ip_src div $b") === col("bucket") &&
              col("ip_src").between(col("ip_lo"), col("ip_hi")),
            "left")
          .groupBy("country")
          .agg(count(lit(1)).as("n"),
            max("lat_e4").as("lat_e4"), max("lon_e4").as("lon_e4"))
      },
      Some(s"""$flowsSqlCte, ${Dims.geoSql}
            SELECT g.country, count(*) AS n,
              max(g.lat_e4) AS lat_e4, max(g.lon_e4) AS lon_e4
            FROM flows f LEFT JOIN geo g
              ON f.ip_src BETWEEN g.ip_lo AND g.ip_hi
            GROUP BY g.country"""),
      doc = "GeoIP coords enrichment (country + lat/lon primitives)"),

    // tee plugin hash balancing: deterministic receiver assignment
    // (src/tee_plugin/tee_plugin.c; balance = hash % N).
    Q("q30_tee_balance",
      (s, d) => flows(s, d)
        .withColumn("receiver", (col("event_id") * 2654435761L) % 1000003L % 4)
        .groupBy("receiver")
        .agg(count(lit(1)).as("n"), sum("bytes").as("bytes")),
      Some(s"""$flowsSqlCte
            SELECT (event_id * 2654435761) % 1000003 % 4 AS receiver,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows GROUP BY 1"""),
      doc = "tee replication hash balancing"),

    // pre_tag_map on BGP keys (pretag_bgp_src_as_handler / PRETAG_SRC_AS,
    // src/pretag_handlers.c:879-895; CONFIG-KEYS src_as/dst_as/comms
    // rules): tagging rules that match on RIB-RESOLVED attributes, not
    // packet fields — the map evaluates AFTER enrichment. dst_as and med
    // come from a per-peer LPM (one broadcast join per mask length, fact
    // side never shuffles), then the same first-match when/otherwise
    // chain as q17 stamps tags, and pre_tag_filter keeps two of them.
    Q("q131_pretag_bgp",
      (s, d) => {
        import graft.maps.PreTagMap
        import graft.maps.PreTagMap.TagRule
        // (peer, prefix) product space: peer above the 16 ip bits, so the
        // per-peer RIB is one dim with 17-bit bases (q26's trick)
        val dim17 = Dims.rib(s).select(
          (col("peer") * 65536L + col("base")).as("base"),
          (col("len") + 1L).as("len"), col("origin_as"), col("med"))
        val lens17 = Dims.ribLens.map(_ + 1)
        val enriched = Lpm.joinLongestMatch(
          flows(s, d).join(broadcast(Dims.bgpAgentMap(s)), Seq("exporter")),
          dim17, col("peer") * 65536L + col("ip_dst"),
          lens17, 17, Seq("origin_as", "med"))
        val tag = PreTagMap.tagColumn(Seq(
          TagRule(col("origin_as").isin(64512L, 64612L), 100L),
          TagRule(col("med") >= 30L, 200L),
          TagRule(col("ip_src") % 16 === 5, 300L)))
        enriched.withColumn("tag", tag)
          .filter(PreTagMap.tagFilter(col("tag"), Seq(100L, 200L)))
          .groupBy("tag")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, ${Dims.bgpAgentSql}, ${Dims.ribSql}
            SELECT tag, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM (
              SELECT f.bytes,
                CASE
                  WHEN (SELECT r.origin_as FROM rib r WHERE r.peer = b.peer
                        AND ((f.ip_dst >> (16 - r.len)) << (16 - r.len))
                          = r.base
                        ORDER BY r.len DESC LIMIT 1) IN (64512, 64612)
                    THEN 100
                  WHEN (SELECT r.med FROM rib r WHERE r.peer = b.peer
                        AND ((f.ip_dst >> (16 - r.len)) << (16 - r.len))
                          = r.base
                        ORDER BY r.len DESC LIMIT 1) >= 30 THEN 200
                  WHEN f.ip_src % 16 = 5 THEN 300
                  ELSE 0 END AS tag
              FROM flows f JOIN bgp_agent_map b ON f.exporter = b.exporter)
            WHERE tag IN (100, 200) GROUP BY 1"""),
      doc = "pre_tag_map on RIB-resolved BGP keys (dst_as, med) + filter"),

    // AS traffic matrix — `aggregate: src_as, dst_as`, the classic
    // peering-coordination deployment (docs/INTERNALS spatial
    // aggregation; networks_file as the AS source, src/net_aggr.c):
    // BOTH endpoints resolve through the same plan-resident LPM
    // expression — two shuffle-free probes per record inside one
    // codegen stage — then one hash aggregation on the (src_as, dst_as)
    // pair. Unresolved endpoints fold to AS 0 like pmacct's unknown AS.
    Q("q135_as_matrix",
      (s, d) => {
        import graft.maps.Dims
        import graft.plans.Lpm
        val t = new Lpm.Table(16, Dims.networkPrefixes)
        flows(s, d)
          .withColumn("src_as", coalesce(Lpm.lpm(col("ip_src"), t), lit(0L)))
          .withColumn("dst_as", coalesce(Lpm.lpm(col("ip_dst"), t), lit(0L)))
          .groupBy("src_as", "dst_as")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"),
            sum("packets").as("packets"))
      },
      Some(s"""$flowsSqlCte, ${graft.maps.Dims.networksSql}
            SELECT coalesce(${lpmSql("networks", "f.ip_src", "asn")}, 0)
                AS src_as,
              coalesce(${lpmSql("networks", "f.ip_dst", "asn")}, 0)
                AS dst_as,
              count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(sum(packets) AS BIGINT) AS packets
            FROM flows f GROUP BY 1, 2"""),
      doc = "AS traffic matrix: dual LPM probes + one pair aggregation"),

    // Tag-filtered tee receivers (tee_recvs_map_tag_handler,
    // src/tee_plugin/tee_recvs.c:111-116: each receiver pool carries a
    // tag_filter; hash-tag balancing :143-145): a record replicates to
    // EVERY pool whose filter matches its tag — one-to-many, expressed
    // as an array-literal projection + explode (no join, no shuffle
    // before the per-receiver aggregation). Pool 1 takes tag 100,
    // pool 2 tag 200, pool 3 both, pool 4 is unfiltered.
    Q("q138_tee_tagged",
      (s, d) => {
        import graft.maps.PreTagMap
        import graft.maps.PreTagMap.TagRule
        val tag = PreTagMap.tagColumn(Seq(
          TagRule(col("ip_proto") === 6, 100L),
          TagRule(col("ip_src") % 16 === 5, 200L)))
        flows(s, d).withColumn("tag", tag)
          .withColumn("pool", explode(expr(
            """filter(array(
                 CASE WHEN tag = 100 THEN 1 END,
                 CASE WHEN tag = 200 THEN 2 END,
                 CASE WHEN tag IN (100, 200) THEN 3 END,
                 4), p -> p IS NOT NULL)""")))
          .groupBy("pool")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, tagged AS (
              SELECT bytes, CASE WHEN ip_proto = 6 THEN 100
                WHEN ip_src % 16 = 5 THEN 200 ELSE 0 END AS tag
              FROM flows)
            SELECT pool, count(*) AS n, CAST(sum(bytes) AS BIGINT) AS bytes
            FROM (
              SELECT 1 AS pool, bytes FROM tagged WHERE tag = 100
              UNION ALL SELECT 2, bytes FROM tagged WHERE tag = 200
              UNION ALL SELECT 3, bytes FROM tagged
                WHERE tag IN (100, 200)
              UNION ALL SELECT 4, bytes FROM tagged)
            GROUP BY 1"""),
      doc = "tee pools with tag filters: one-to-many replication fan-out"),

    // ADD-PATH flow augmentation (docs/FLOW_AUGMENTATION_PROCESS_
    // DESCRIPTION.md "BGP" §; reference lookup at src/bgp/bgp_lookup.c:
    // multi-path candidates from an ADD-PATH peer are disambiguated by
    // matching the flow's BGP next-hop, falling back deterministically
    // when none matches): exporter → peer via bgp_agent_map, LPM over a
    // MULTI-path RIB finds the longest matching prefix, then the path
    // whose next hop equals the flow's ip_next_hop wins (lowest path_id
    // otherwise), yielding dst_as + peer_dst_ip. Two broadcast joins +
    // one per-flow rank — no shuffle beyond the final aggregate.
    Q("q156_addpath_augment",
      (s, d) => {
        // multi-path RIB fixture: (peer, base, len, path_id, nh, asn)
        val sp = s
        import sp.implicits._
        val paths = Seq(
          (0L, 0L, 1L, 1L, 100L, 64512L), (0L, 0L, 1L, 2L, 200L, 64612L),
          (1L, 0L, 1L, 1L, 101L, 64512L), (1L, 0L, 1L, 2L, 201L, 64612L),
          (0L, 32768L, 1L, 1L, 100L, 64513L),
          (1L, 32768L, 1L, 1L, 101L, 64513L),
          (0L, 49152L, 2L, 1L, 150L, 64514L),
          (0L, 49152L, 2L, 2L, 250L, 64614L),
          (1L, 49152L, 2L, 1L, 151L, 64514L),
          (1L, 49152L, 2L, 2L, 251L, 64614L))
          .toDF("rib_peer", "base", "len", "path_id", "nh", "asn")
        val fl = flows(s, d)
          .withColumn("peer", col("ip_src") % 16 % 2)
          .withColumn("flow_nh", // the exporter-reported BGP next hop
            when(col("event_id") % 3 === 0, lit(100L) + col("ip_src") % 16 % 2)
              .when(col("event_id") % 3 === 1, lit(200L) + col("ip_src") % 16 % 2)
              .otherwise(lit(999L)))
        // leg 1: longest matching prefix among the peer's path set
        val matched = Lpm.joinLongestMatch(fl,
            paths.select((col("rib_peer") * 65536L + col("base")).as("base"),
              (col("len") + 1).as("len"),
              col("base").as("m_base"), col("len").as("m_len")).distinct(),
            col("peer") * 65536L + col("ip_dst"),
            Seq(2, 3), 17, Seq("m_base", "m_len"))
          .filter(col("m_base").isNotNull)
        // leg 2: candidate paths for the matched prefix; next-hop match
        // wins, lowest path_id breaks the tie (bgp_lookup.c semantics)
        val chosen = matched
          .join(broadcast(paths),
            col("peer") === col("rib_peer") &&
              col("m_base") === col("base") && col("m_len") === col("len"))
          .groupBy(col("event_id"), col("bytes"))
          .agg(
            expr("max_by(struct(nh, asn), " +
              "struct(cast(nh = flow_nh as int), -path_id))").as("best"))
          .select(col("bytes"), col("best.nh").as("peer_dst_ip"),
            col("best.asn").as("dst_as"))
        chosen.groupBy("peer_dst_ip", "dst_as")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte,
            paths(rib_peer, base, len, path_id, nh, asn) AS (
              SELECT * FROM (VALUES
                (0, 0, 1, 1, 100, 64512), (0, 0, 1, 2, 200, 64612),
                (1, 0, 1, 1, 101, 64512), (1, 0, 1, 2, 201, 64612),
                (0, 32768, 1, 1, 100, 64513), (1, 32768, 1, 1, 101, 64513),
                (0, 49152, 2, 1, 150, 64514), (0, 49152, 2, 2, 250, 64614),
                (1, 49152, 2, 1, 151, 64514), (1, 49152, 2, 2, 251, 64614))
              AS t(rib_peer, base, len, path_id, nh, asn)),
            fl AS (SELECT event_id, bytes, ip_dst,
                ip_src % 16 % 2 AS peer,
                CASE WHEN event_id % 3 = 0 THEN 100 + ip_src % 16 % 2
                     WHEN event_id % 3 = 1 THEN 200 + ip_src % 16 % 2
                     ELSE 999 END AS flow_nh
              FROM flows),
            cand AS (SELECT fl.event_id, fl.bytes, p.nh, p.asn,
                row_number() OVER (PARTITION BY fl.event_id ORDER BY
                  CASE WHEN p.nh = fl.flow_nh THEN 0 ELSE 1 END,
                  p.path_id) AS rk
              FROM fl JOIN paths p ON p.rib_peer = fl.peer
                AND ((fl.ip_dst >> (16 - p.len)) << (16 - p.len)) = p.base
                AND p.len = (SELECT max(p2.len) FROM paths p2
                  WHERE p2.rib_peer = fl.peer
                    AND ((fl.ip_dst >> (16 - p2.len)) << (16 - p2.len))
                      = p2.base))
            SELECT nh AS peer_dst_ip, asn AS dst_as, count(*) AS n,
              CAST(sum(bytes) AS BIGINT) AS bytes
            FROM cand WHERE rk = 1 GROUP BY 1, 2"""),
      doc = "ADD-PATH augmentation: next-hop-matched path selection"),

    // nfacctd_net 'longest' (CONFIG-KEYS:2151-2166): dst_mask is chosen
    // longest-prefix-wins across ALL mask sources — networks_file, the
    // flow protocol's own DstMask field, IGP, and BGP — with ties
    // resolved by the documented precedence networks_file < NetFlow <
    // IGP <= BGP. Each source is one broadcast LPM leg carrying its
    // matched length; the winner is pure CASE arithmetic, identical in
    // both engines. The flow-protocol leg is a record field, not a
    // lookup — exactly the v9 SrcMask/DstMask path.
    Q("q158_net_longest",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val igp = Seq((0L, 2L), (16384L, 3L), (32768L, 2L), (49152L, 6L))
          .toDF("base", "len").withColumn("igp_len", col("len"))
        val fl = flows(s, d)
          .withColumn("peer", col("ip_src") % 16 % 2)
          .withColumn("nf_mask", lit(8L) + col("ip_dst") % 16)
        val withFile = Lpm.joinLongestMatch(fl,
          Dims.networks(s).withColumn("file_len", col("len")),
          col("ip_dst"), Dims.networkLens, 16, Seq("file_len"))
        val withIgp = Lpm.joinLongestMatch(withFile, igp,
          col("ip_dst"), Seq(2, 3, 6), 16, Seq("igp_len"))
        val withBgp = Lpm.joinLongestMatch(withIgp,
          Dims.rib(s).select(
            (col("peer") * 65536L + col("base")).as("base"),
            (col("len") + 1).as("len"), col("len").as("bgp_len")),
          col("peer") * 65536L + col("ip_dst"),
          Dims.ribLens.map(_ + 1), 17, Seq("bgp_len"))
        val win = withBgp
          .withColumn("L", greatest(
            coalesce(col("file_len"), lit(-1L)),
            coalesce(col("nf_mask"), lit(-1L)),
            coalesce(col("igp_len"), lit(-1L)),
            coalesce(col("bgp_len"), lit(-1L))))
          .withColumn("mask_src",
            when(col("bgp_len") === col("L"), "bgp")
              .when(col("igp_len") === col("L"), "igp")
              .when(col("nf_mask") === col("L"), "netflow")
              .otherwise("file"))
        win.groupBy("mask_src", "L")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte, ${Dims.networksSql}, ${Dims.ribSql},
            igp(base, len) AS (SELECT * FROM (VALUES
              (0, 2), (16384, 3), (32768, 2), (49152, 6)) AS t(base, len)),
            m AS (SELECT bytes, 8 + ip_dst % 16 AS nf_mask,
              (SELECT n.len FROM networks n
                WHERE ((ip_dst >> (16 - n.len)) << (16 - n.len)) = n.base
                ORDER BY n.len DESC LIMIT 1) AS file_len,
              (SELECT g.len FROM igp g
                WHERE ((ip_dst >> (16 - g.len)) << (16 - g.len)) = g.base
                ORDER BY g.len DESC LIMIT 1) AS igp_len,
              (SELECT r.len FROM rib r WHERE r.peer = ip_src % 16 % 2
                AND ((ip_dst >> (16 - r.len)) << (16 - r.len)) = r.base
                ORDER BY r.len DESC LIMIT 1) AS bgp_len
              FROM flows),
            w AS (SELECT bytes,
              greatest(coalesce(file_len, -1), coalesce(nf_mask, -1),
                coalesce(igp_len, -1), coalesce(bgp_len, -1)) AS L,
              CASE WHEN bgp_len = greatest(coalesce(file_len, -1),
                  coalesce(nf_mask, -1), coalesce(igp_len, -1),
                  coalesce(bgp_len, -1)) THEN 'bgp'
                WHEN igp_len = greatest(coalesce(file_len, -1),
                  coalesce(nf_mask, -1), coalesce(igp_len, -1),
                  coalesce(bgp_len, -1)) THEN 'igp'
                WHEN nf_mask = greatest(coalesce(file_len, -1),
                  coalesce(nf_mask, -1), coalesce(igp_len, -1),
                  coalesce(bgp_len, -1)) THEN 'netflow'
                ELSE 'file' END AS mask_src
              FROM m)
            SELECT mask_src, L, count(*) AS n,
              CAST(sum(bytes) AS BIGINT) AS bytes
            FROM w GROUP BY 1, 2"""),
      doc = "nfacctd_net longest: mask source precedence across 4 legs"),

    // IPv6 LPM flow enrichment: the v6 RIB arrives as REAL MP-BGP wire
    // updates (RFC 4760 MP_REACH, 128-bit truncated-prefix NLRI — the
    // q118 codec), compacts, and loads into the 128-bit plan-resident
    // LPM table (`Lpm.Table.v6`, the v6 walk of bgp_srcdst_lookup /
    // src/bgp/bgp_lookup.c). Flows carry two-limb v6 dst addresses;
    // /24s cover every flow and /32s carve out a subset, so the
    // longest-first probe order is load-bearing. The lookup is a
    // codegen'd expression — no join, no shuffle on the fact side.
    Q("q171_lpm_v6",
      (s, d) => {
        import graft.sources.BgpMsg
        val Base = 0x2001L << 48
        // RIB fixture through the wire: /24 per a (origin 100+a), /32
        // per (a,b) with (a+b)%3==0 (origin 1000+a*16+b)
        val wire = new java.io.ByteArrayOutputStream()
        (0 until 16).foreach { a =>
          val m = BgpMsg.encode(BgpMsg.Update(
            nlri6 = Seq(BgpMsg.Route6(Base | (a.toLong << 40), 0L, 24)),
            nextHop6 = Some((1L, a.toLong)), origin = Some(0),
            asPath = Seq(100L + a)))
          wire.write(m, 0, m.length)
        }
        (0 until 16).foreach { a =>
          (0 until 16).foreach { b =>
            if ((a + b) % 3 == 0) {
              val m = BgpMsg.encode(BgpMsg.Update(
                nlri6 = Seq(BgpMsg.Route6(
                  Base | (a.toLong << 40) | (b.toLong << 32), 0L, 32)),
                nextHop6 = Some((1L, a.toLong)), origin = Some(0),
                asPath = Seq(1000L + a * 16L + b)))
              wire.write(m, 0, m.length)
            }
          }
        }
        val rib = BgpMsg.decodeStream(wire.toByteArray).flatMap { u =>
          u.nlri6.map(r => (r.hi, r.lo, r.plen, u.asPath.last))
        }
        val table = Lpm.Table.v6(rib)
        Tables.events(s, d).select(
            ((col("user_id") % 16) * 1099511627776L + // a << 40
              (col("event_id") % 16) * 4294967296L +  // b << 32
              col("event_id") % 65536 + Base).as("hi"),
            col("event_id").as("lo"),
            expr("CAST(floor(value * 1000) AS BIGINT) + 40").as("bytes"))
          .withColumn("origin_as",
            Lpm.lpm6(col("hi"), col("lo"), table))
          .groupBy("origin_as")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some("""SELECT CASE WHEN (user_id % 16 + event_id % 16) % 3 = 0
                THEN 1000 + (user_id % 16) * 16 + event_id % 16
                ELSE 100 + user_id % 16 END AS origin_as,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 1000) AS BIGINT) + 40)
                AS BIGINT) AS bytes
              FROM events GROUP BY 1"""),
      doc = "IPv6 128-bit LPM: wire-built v6 RIB, codegen'd two-limb probe")
  )
}
