package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{FlowView, Graft, Q, Tables}
import graft.functions.Formatters._
import graft.maps.Dims

/** Output/interactive surface operators: the formatter library (§2.11),
  * the Spark SQL interactive surface replacing the IMT client protocol
  * (§2.9), BGP msglog→RIB state compaction (§3.3), and option-record
  * as-of correlation (§2.6 "NetFlow option correlation").
  */
object SurfaceQueries {

  private def flows(s: org.apache.spark.sql.SparkSession, d: String) =
    FlowView.fromEvents(Tables.events(s, d))

  private val flowsSqlCte = s"WITH flows AS (${FlowView.sql})"

  val all: Seq[Q] = Seq(

    // Formatter library: every §2.11 printer as a codegen'd expression.
    Q("q49_formatters",
      (s, d) => flows(s, d)
        .filter(col("event_id") % 97 === 0)
        .selectExpr("event_id",
          s"${ipNtoa("ip_src")} as ip_src_str",
          s"${protoName("ip_proto")} as proto",
          s"${tcpFlagsDecode("tcp_flags")} as flags",
          s"${fwdStatus("tcp_flags")} as fwd_status",
          s"${rdFormat("(ip_src % 16)", "port_dst")} as rd",
          s"${tsCompose("t0u")} as ts_start",
          s"${macFormat("(event_id * 131071)")} as mac_src",
          s"${dscp("(event_id % 256)")} as dscp"),
      Some(FlowView.cte(
        s"""SELECT event_id,
            ${ipNtoaDuck("ip_src")} AS ip_src_str,
            ${protoNameDuck("ip_proto")} AS proto,
            ${tcpFlagsDecodeDuck("tcp_flags")} AS flags,
            ${fwdStatusDuck("tcp_flags")} AS fwd_status,
            ${rdFormatDuck("(ip_src % 16)", "port_dst")} AS rd,
            ${tsComposeDuck("t0u")} AS ts_start,
            ${macFormatDuck("(event_id * 131071)")} AS mac_src,
            ${dscpDuck("(event_id % 256)")} AS dscp
            FROM flows WHERE event_id % 97 = 0""")),
      doc = "formatter library: ip/proto/flags/fwd/rd/timestamp/mac"),

    // Interactive surface: the pmacct-client protocol (§2.9) is plain
    // Spark SQL over a registered view.
    Q("q50_sql_surface",
      (s, d) => {
        flows(s, d).createOrReplaceTempView("flows_imt")
        s.sql("""SELECT ip_proto, port_dst, count(*) AS n,
                 CAST(sum(bytes) AS BIGINT) AS bytes
                 FROM flows_imt WHERE port_dst IN (80, 443, 53)
                 GROUP BY ip_proto, port_dst""")
      },
      Some(FlowView.cte(
        """SELECT ip_proto, port_dst, count(*) AS n,
           CAST(sum(bytes) AS BIGINT) AS bytes
           FROM flows WHERE port_dst IN (80, 443, 53)
           GROUP BY ip_proto, port_dst""")),
      doc = "Spark SQL interactive surface (IMT client parity)"),

    // Custom serializer hook (print_output_custom_lib,
    // CONFIG-KEYS:1838-1853): a user-supplied row serializer runs per
    // partition (the dlopen'd plugin's Spark shape), and the stream is
    // parsed back and aggregated — serializer or parse defects break
    // parity with the direct oracle.
    Q("q101_custom_writer",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val src = Tables.events(s, d).selectExpr(
          "event_id", "event_type", "cast(floor(value * 100) as bigint) as b")
        val serialized = graft.sinks.FlowSinks.customSerialize(src,
          r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
        serialized.map { line =>
          val parts = line.split("\\|", 3)
          (parts(1), parts(2).toLong)
        }.toDF("event_type", "b")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"))
      },
      Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes
              FROM events GROUP BY 1"""),
      doc = "custom row serializer hook round-trip (print_output_custom)"),

    // Dynamic table/file names (print plugin %Y%m%d time tokens,
    // CONFIG-KEYS:1143-1229): the partitioned writer lays data out by the
    // derived day token; reading the directory back recovers the token
    // as a partition column whose value the oracle re-derives from ts.
    Q("q102_print_dynamic",
      (s, d) => Graft.scratchLane("q102_print") { scratch =>
        val out = scratch.resolve("table").toString
        val src = Tables.events(s, d).selectExpr(
          "event_id", "ts", "cast(floor(value * 100) as bigint) as b")
        graft.sinks.FlowSinks.writePartitionedPrint(src, out, "ts")
        s.read.format("json").load(out)
          .groupBy(col("print_day").cast("long").as("print_day"))
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"))
      },
      Some("""SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS print_day,
              count(*) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS bytes
              FROM events GROUP BY 1"""),
      doc = "dynamic print names: time-token partitioned write + readback"),

    // print_latest_file (CONFIG-KEYS:1244-1260; link_latest_output_file
    // src/util.c:489-537): every print-plugin user has a "latest"
    // pointer the dashboard tails. Two flushes land disjoint day cohorts
    // (even days, then odd); after each, every flushed partition is
    // offered to the pointer, which re-targets only when the candidate's
    // name is lexicographically newer (the documented %Y%m%d contract).
    // The query proves the pointer tracked the newest even day after
    // flush one, the newest day overall after flush two, and that the
    // final target's rows read back whole.
    Q("q202_print_latest",
      (s, d) => Graft.scratchLane("q202_print") { base =>
        import graft.sinks.FlowSinks
        val table = base.resolve("table").toString
        val pointer = base.resolve("latest")
        val src = Tables.events(s, d).selectExpr(
          "event_id", "ts", "cast(floor(value * 100) as bigint) as b",
          "cast(date_format(ts, 'yyyyMMdd') as bigint) as day")
        def day(p: Option[String]): Long =
          p.map(_.split('=').last.toLong).getOrElse(-1L)
        FlowSinks.writePartitionedPrint(
          src.filter(col("day") % 2 === 0).drop("day"), table, "ts")
        FlowSinks.updateLatestPointer(table, pointer)
        val afterFirst = day(FlowSinks.readLatestPointer(pointer))
        FlowSinks.writePartitionedPrint(
          src.filter(col("day") % 2 === 1).drop("day"), table, "ts")
        FlowSinks.updateLatestPointer(table, pointer)
        val target = FlowSinks.readLatestPointer(pointer).get
        s.read.format("json").load(target)
          .agg(count(lit(1)).as("n"), sum("b").as("bytes"))
          .withColumn("day_after_first", lit(afterFirst))
          .withColumn("day_after_second", lit(day(Some(target))))
      },
      Some("""WITH e AS (SELECT
                CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS day,
                CAST(floor(value * 100) AS BIGINT) AS b
              FROM events)
            SELECT count(*) AS n, CAST(sum(b) AS BIGINT) AS bytes,
              (SELECT max(day) FROM e WHERE day % 2 = 0)
                AS day_after_first,
              (SELECT max(day) FROM e) AS day_after_second
            FROM e WHERE day = (SELECT max(day) FROM e)"""),
      doc = "print_latest_file: pointer tracks newest time-token partition"),

    // BGP msglog → RIB compaction: latest state per (peer, prefix) by
    // sequence number (docs/MSGLOG_DUMP_FORMATS; dump = this snapshot).
    Q("q52_rib_compact",
      (s, d) => Tables.events(s, d)
        .select((col("user_id") % 2).as("peer"),
          (col("event_id") % 512).as("prefix"),
          col("event_id").as("seq"),
          when(col("event_type") === "error", "withdraw")
            .otherwise("update").as("op"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("med"))
        .groupBy("peer", "prefix")
        .agg(expr("max_by(op, seq)").as("last_op"),
          expr("max_by(med, seq)").as("last_med"), max("seq").as("last_seq"))
        .groupBy("peer")
        .agg(sum(when(col("last_op") === "update", 1L).otherwise(0L))
            .as("n_active"),
          sum(when(col("last_op") === "withdraw", 1L).otherwise(0L))
            .as("n_withdrawn"),
          max("last_seq").as("max_seq"),
          sum(when(col("last_op") === "update", col("last_med"))
            .otherwise(0L)).as("sum_med")),
      Some("""WITH msgs AS (SELECT user_id % 2 AS peer,
                event_id % 512 AS prefix, event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med
              FROM events),
            rib AS (SELECT peer, prefix, arg_max(op, seq) AS last_op,
                arg_max(med, seq) AS last_med, max(seq) AS last_seq
              FROM msgs GROUP BY peer, prefix)
            SELECT peer,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'withdraw' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_withdrawn,
              max(last_seq) AS max_seq,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_med ELSE 0 END)
                AS BIGINT) AS sum_med
            FROM rib GROUP BY peer"""),
      doc = "msglog event stream compacted to latest RIB state"),

    // BGP UPDATE *wire* parsing feeding the RIB: each msglog event becomes
    // a real RFC 4271 UPDATE message (marker/length/type framing, NLRI or
    // withdrawn-routes section, ORIGIN/AS_PATH/NEXT_HOP/MED attributes),
    // the per-peer session stream is parsed back by `BgpMsg.decodeStream`,
    // and the decoded routes compact into latest-state RIB rows exactly
    // like the JSON msglog path (q52). The oracle derives the same RIB
    // from the raw events — any framing, NLRI-walk, or attribute defect
    // breaks parity. (Reference: bgp_update_msg, src/bgp/bgp_msg.c.)
    Q("q93_bgp_wire",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        // 64 parallel BGP sessions (32 per peer); each RIB key
        // (peer, prefix) is session-local — prefix embeds the session —
        // so per-session arrival order IS the global order for that key
        // and sessions decode concurrently across all cores.
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("sess"), col("event_id"),
            ((col("user_id") % 64) * 512 + col("event_id") % 512).as("pfx"),
            (col("event_type") === "error").as("wd"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("med"),
            (lit(65000L) + col("user_id") % 16).as("oas"),
            col("user_id").cast("long").as("nh"))
          .as[(Long, Long, Long, Boolean, Long, Long, Long)]
        // secondary-sort walk (SessionWalk): the shuffle delivers each
        // session ordered by event_id, and the handler streams it
        // encode → chunks → decode as one lazy pipeline, one row per
        // decoded route; the max_by aggregate below is the RIB
        // compaction, and Spark's partial aggregate runs it before the
        // shuffle — task memory is O(chunk), never the session's event
        // set or wire. seq is the decoded message's index in its
        // session (keys are session-local); a message's withdrawals
        // take 2i and its announcements 2i + 1, so a key withdrawn and
        // re-announced in one message ends announced.
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val peer = sess % 2
            val wire = run.map { case (_, _, pfx, wd, med, oas, nh) =>
              val route = BgpMsg.Route(pfx << 8, 24)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawn = Seq(route)))
              else BgpMsg.encode(BgpMsg.Update(nlri = Seq(route),
                origin = Some(0), asPath = Seq(oas, oas + 1),
                nextHop = Some(nh), med = Some(med)))
            }
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                u.withdrawn.map(r =>
                  (peer, r.prefix >> 8, 2L * i, "withdraw", 0L, 0L, 0L)) ++
                u.nlri.map(r => (peer, r.prefix >> 8, 2L * i + 1, "update",
                  u.med.getOrElse(0L), u.asPath.headOption.getOrElse(0L),
                  u.nextHop.getOrElse(0L)))
              }
          }
        }
        decoded
          .toDF("peer", "prefix", "seq", "op", "med", "oas", "nh")
          .groupBy("peer", "prefix")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(med, seq)").as("last_med"),
            expr("max_by(oas, seq)").as("last_oas"),
            expr("max_by(nh, seq)").as("last_nh"))
          .groupBy("peer")
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_active"),
            sum(when(col("last_op") === "withdraw", 1L).otherwise(0L))
              .as("n_withdrawn"),
            sum(when(col("last_op") === "update", col("last_med"))
              .otherwise(0L)).as("sum_med"),
            sum(when(col("last_op") === "update", col("last_oas"))
              .otherwise(0L)).as("sum_origin_as"),
            sum(when(col("last_op") === "update", col("last_nh"))
              .otherwise(0L)).as("sum_nh"))
      },
      Some("""WITH msgs AS (SELECT (user_id % 64) % 2 AS peer,
                (user_id % 64) * 512 + event_id % 512 AS prefix,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med,
                65000 + user_id % 16 AS oas, user_id AS nh
              FROM events),
            rib AS (SELECT peer, prefix, arg_max(op, seq) AS last_op,
                arg_max(med, seq) AS last_med,
                arg_max(oas, seq) AS last_oas,
                arg_max(nh, seq) AS last_nh
              FROM msgs GROUP BY 1, 2)
            SELECT peer,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'withdraw' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_withdrawn,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_med ELSE 0 END)
                AS BIGINT) AS sum_med,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_oas ELSE 0 END)
                AS BIGINT) AS sum_origin_as,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_nh ELSE 0 END)
                AS BIGINT) AS sum_nh
            FROM rib GROUP BY peer"""),
      doc = "BGP UPDATE wire bytes parsed into RIB compaction"),

    // BGP ADD-PATH (RFC 7911; reference: path-id aware RIB compare in
    // src/bgp/bgp_lookup.c:712): the session negotiates capability 69
    // through the FSM (asserted per group), UPDATEs carry 4-byte path
    // ids on every NLRI/withdraw entry, and the RIB key widens to
    // (peer, prefix, path_id) so one prefix holds multiple concurrent
    // paths. Compaction is latest-wins per path; the per-prefix view
    // then counts live paths and picks best-MED. The oracle derives the
    // same state from raw events — a path-id framing defect shifts every
    // subsequent NLRI byte and breaks parity.
    Q("q112_bgp_addpath",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BgpFsm}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 32).as("sess"), col("event_id"),
            ((col("user_id") % 32) * 256 + col("event_id") % 256).as("pfx"),
            expr("(event_id div 256) % 4").as("pid"),
            (col("event_type") === "error").as("wd"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("med"),
            col("user_id").cast("long").as("nh"))
          .as[(Long, Long, Long, Long, Boolean, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            // capability negotiation gates the wire shape: a collector
            // FSM advertising ADD-PATH accepts the peer's OPEN and only
            // then may path-id NLRI flow on the session
            val fsm = new BgpFsm(64512L, 1L, myAddPath = true)
            fsm.start(0L)
            fsm.onMessage(BgpMsg.OpenMsg(
              BgpMsg.Open(65000L + sess, 90, sess, addPath = true)), 1L)
            fsm.onMessage(BgpMsg.KeepaliveMsg, 2L)
            require(fsm.addPathNegotiated, "ADD-PATH must negotiate")
            val ap = fsm.addPathNegotiated
            val peer = sess % 2
            // the ADD-PATH RIB key widens to (pfx, path_id); seq as in q93
            val wire = run.map { case (_, _, pfx, pid, wd, med, _) =>
              val route = BgpMsg.Route(pfx << 8, 24, pid)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawn = Seq(route)), ap)
              else BgpMsg.encode(BgpMsg.Update(nlri = Seq(route),
                origin = Some(0), asPath = Seq(65000L + sess),
                nextHop = Some(sess), med = Some(med)), ap)
            }
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_, ap))
              .zipWithIndex.flatMap { case (u, i) =>
                u.withdrawn.map(r =>
                  (peer, r.prefix >> 8, r.pathId, 2L * i, "withdraw", 0L)) ++
                u.nlri.map(r => (peer, r.prefix >> 8, r.pathId, 2L * i + 1,
                  "update", u.med.getOrElse(0L)))
              }
          }
        }
        decoded
          .toDF("peer", "prefix", "path_id", "seq", "op", "med")
          .groupBy("peer", "prefix", "path_id")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(med, seq)").as("last_med"))
          .groupBy("peer", "prefix")
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_paths"),
            min(when(col("last_op") === "update", col("last_med")))
              .as("best_med"))
          .groupBy("peer")
          .agg(count(lit(1)).as("n_prefixes"),
            sum(when(col("n_paths") >= 2, 1L).otherwise(0L))
              .as("n_multipath"),
            sum("n_paths").as("n_paths_live"),
            sum(coalesce(col("best_med"), lit(0L))).as("sum_best_med"))
      },
      Some("""WITH msgs AS (SELECT (user_id % 32) % 2 AS peer,
                (user_id % 32) * 256 + event_id % 256 AS prefix,
                (event_id // 256) % 4 AS path_id,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med
              FROM events),
            rib AS (SELECT peer, prefix, path_id,
                arg_max(op, seq) AS last_op, arg_max(med, seq) AS last_med
              FROM msgs GROUP BY 1, 2, 3),
            pfx AS (SELECT peer, prefix,
                sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                  AS n_paths,
                min(CASE WHEN last_op = 'update' THEN last_med END)
                  AS best_med
              FROM rib GROUP BY 1, 2)
            SELECT peer, count(*) AS n_prefixes,
              CAST(sum(CASE WHEN n_paths >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_multipath,
              CAST(sum(n_paths) AS BIGINT) AS n_paths_live,
              CAST(sum(coalesce(best_med, 0)) AS BIGINT) AS sum_best_med
            FROM pfx GROUP BY peer"""),
      doc = "RFC 7911 add-path: negotiated path-id NLRI, multi-path RIB"),

    // Multiprotocol BGP (RFC 4760; reference: AFI/SAFI-indexed RIBs in
    // src/bgp/bgp_table.c): IPv6 unicast routes ride MP_REACH_NLRI /
    // MP_UNREACH_NLRI path attributes — announce carries a 16-byte next
    // hop + truncated-prefix NLRI inside attribute 14, withdraw inside
    // 15 — while the classic v4 NLRI fields stay empty. Sessions encode
    // to wire, decode back, and compact a v6 RIB per (peer, prefix).
    // AFI/SAFI demux, 128-bit prefix reassembly, or next-hop length
    // defects break parity with the raw-events oracle.
    Q("q118_bgp_mp_ipv6",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 32).as("sess"), col("event_id"),
            ((col("user_id") % 32) * 256 + col("event_id") % 256).as("pfx"),
            (col("event_type") === "error").as("wd"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("med"))
          .as[(Long, Long, Long, Boolean, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val peer = sess % 2
            val wire = run.map { case (_, _, pfx, wd, med) =>
              // 2001:db8::/32-rooted prefixes, /48: pfx occupies the
              // 16 bits below the /32 root, lo half zero
              val r6 = BgpMsg.Route6(0x20010DB800000000L | (pfx << 16),
                0L, 48)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawn6 = Seq(r6)))
              else BgpMsg.encode(BgpMsg.Update(
                nlri6 = Seq(r6), origin = Some(0),
                asPath = Seq(65000L + sess), med = Some(med),
                nextHop6 = Some((0xFE80L << 48, sess))))
            }
            // seq as in q93
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                u.withdrawn6.map(r => (peer, (r.hi >> 16) & 0xffffffL,
                  2L * i, "withdraw", 0L, 0L)) ++
                u.nlri6.map(r => (peer, (r.hi >> 16) & 0xffffffL,
                  2L * i + 1, "update", u.med.getOrElse(0L),
                  u.nextHop6.map(_._2).getOrElse(0L)))
              }
          }
        }
        decoded
          .toDF("peer", "prefix", "seq", "op", "med", "nh_lo")
          .groupBy("peer", "prefix")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(med, seq)").as("last_med"),
            expr("max_by(nh_lo, seq)").as("last_nh"))
          .groupBy("peer")
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_active"),
            sum(when(col("last_op") === "withdraw", 1L).otherwise(0L))
              .as("n_withdrawn"),
            sum(when(col("last_op") === "update", col("last_med"))
              .otherwise(0L)).as("sum_med"),
            sum(when(col("last_op") === "update", col("last_nh"))
              .otherwise(0L)).as("sum_nh_lo"))
      },
      Some("""WITH msgs AS (SELECT (user_id % 32) % 2 AS peer,
                (user_id % 32) * 256 + event_id % 256 AS prefix,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med,
                user_id % 32 AS nh_lo
              FROM events),
            rib AS (SELECT peer, prefix, arg_max(op, seq) AS last_op,
                arg_max(med, seq) AS last_med,
                arg_max(nh_lo, seq) AS last_nh
              FROM msgs GROUP BY 1, 2)
            SELECT peer,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'withdraw' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_withdrawn,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_med ELSE 0
                END) AS BIGINT) AS sum_med,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_nh ELSE 0
                END) AS BIGINT) AS sum_nh_lo
            FROM rib GROUP BY peer"""),
      doc = "RFC 4760 MP-BGP: IPv6 NLRI in MP_REACH/UNREACH, v6 RIB"),

    // BGP/MPLS VPNs (RFC 4364, SAFI 128 — reference NLRI lane
    // src/bgp/bgp_msg.c:1281-1340, rd_t types at src/network.h): each
    // session announces VPN-IPv4 routes — label stack with BOS bit, RD
    // type 0 (AS2:val, one VRF per user group), VPN next hop — and
    // error events withdraw them through MP_UNREACH with the 0x800000
    // compatibility label. The RIB compacts per (rd, prefix) and
    // reports per VRF, the mpls_vpn_rd aggregation key. Any label-walk,
    // RD-type, or host-plen arithmetic defect breaks parity.
    Q("q153_bgp_vpnv4",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 32).as("sess"), col("event_id"),
            ((col("user_id") % 32) * 256 + col("event_id") % 256)
              .as("pfx"),
            (col("user_id") % 4).as("vrf"),
            (col("event_type") === "error").as("wd"))
          .as[(Long, Long, Long, Long, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val wire = run.map { case (_, _, pfx, vrf, wd) =>
              val rv = BgpMsg.RouteVpn(1000L + pfx % 100, 0, 65000L, vrf,
                pfx << 8, 24)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawnVpn = Seq(rv)))
              else BgpMsg.encode(BgpMsg.Update(nlriVpn = Seq(rv),
                origin = Some(0), asPath = Seq(65000L + sess),
                nextHopVpn = Some(sess)))
            }
            // (vrf, prefix) keys are session-local (the prefix embeds
            // the session), so seq as in q93 orders them exactly
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                u.withdrawnVpn.map(r => (r.rdVal, r.prefix >> 8, 2L * i,
                  "withdraw", 0L, 0L)) ++
                u.nlriVpn.map(r => (r.rdVal, r.prefix >> 8, 2L * i + 1,
                  "update", r.label, u.nextHopVpn.getOrElse(0L)))
              }
          }
        }
        decoded
          .toDF("vrf", "prefix", "seq", "op", "label", "nh")
          .groupBy("vrf", "prefix")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(label, seq)").as("last_label"),
            expr("max_by(nh, seq)").as("last_nh"))
          .groupBy(concat_ws(":", lit(0), lit(65000), col("vrf"))
            .as("rd"))
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_active"),
            sum(when(col("last_op") === "withdraw", 1L).otherwise(0L))
              .as("n_withdrawn"),
            sum(when(col("last_op") === "update", col("last_label"))
              .otherwise(0L)).as("sum_label"),
            sum(when(col("last_op") === "update", col("last_nh"))
              .otherwise(0L)).as("sum_nh"))
      },
      Some("""WITH msgs AS (SELECT user_id % 4 AS vrf,
                (user_id % 32) * 256 + event_id % 256 AS prefix,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                1000 + ((user_id % 32) * 256 + event_id % 256) % 100
                  AS label,
                user_id % 32 AS nh
              FROM events),
            rib AS (SELECT vrf, prefix, arg_max(op, seq) AS last_op,
                arg_max(label, seq) AS last_label,
                arg_max(nh, seq) AS last_nh
              FROM msgs GROUP BY 1, 2)
            SELECT '0:65000:' || vrf AS rd,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'withdraw' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_withdrawn,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_label
                ELSE 0 END) AS BIGINT) AS sum_label,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_nh ELSE 0
                END) AS BIGINT) AS sum_nh
            FROM rib GROUP BY 1"""),
      doc = "RFC 4364 VPN-IPv4: label+RD NLRI, per-VRF RIB compaction"),

    // Route reflection + large communities on the wire: ORIGINATOR_ID
    // (9) / CLUSTER_LIST (10) per RFC 4456 (reference attr registry
    // src/bgp/bgp.h:55-56) and RFC 8092 LARGE_COMMUNITIES triples
    // (src/bgp/bgp.h:68, parsed src/bgp/bgp_msg.c:930). Sessions carry
    // reflected routes whose cluster lists sometimes contain the
    // collector's own cluster id — the RFC 4456 §8 loop signal, counted
    // per peer exactly like a reflector's sanity accounting; large
    // communities aggregate as (global-admin, sum of local parts).
    Q("q132_bgp_rr",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val OwnCluster = 9999L
        val rows = Tables.events(s, d).select(
            (col("user_id") % 16).as("sess"), col("event_id"),
            (col("user_id") % 256).as("orig"),
            (col("event_id") % 7 === 0).as("looped"),
            (col("event_id") % 3 === 0).as("hasLc"),
            (col("event_id") % 100).as("lc1"),
            expr("CAST(floor(value * 1000) AS BIGINT) % 1000").as("lc2"))
          .as[(Long, Long, Long, Boolean, Boolean, Long, Long)]
        // the reflector accounting FOLDS as chunks decode — running
        // counters + a bounded originator set (16 originators/session),
        // never the session's messages
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            var nRoutes = 0L; var nLooped = 0L; var nLc = 0L
            var lcSum = 0L
            val origs = scala.collection.mutable.Set[Long]()
            val wire = run.map {
              case (_, eid, orig, looped, hasLc, lc1, lc2) =>
                val cl = Seq(sess * 10 + 1) ++
                  (if (looped) Seq(OwnCluster) else Nil)
                BgpMsg.encode(BgpMsg.Update(
                  nlri = Seq(BgpMsg.Route(eid % 65536, 32)),
                  origin = Some(0), asPath = Seq(65100L + sess),
                  nextHop = Some(sess), originatorId = Some(orig),
                  clusterList = cl,
                  largeCommunities =
                    if (hasLc) Seq((64512L, lc1, lc2)) else Nil))
            }
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .foreach { u =>
                nRoutes += 1
                if (u.clusterList.contains(OwnCluster)) nLooped += 1
                u.originatorId.foreach(origs += _)
                nLc += u.largeCommunities.size
                lcSum += u.largeCommunities.map(lc => lc._2 + lc._3).sum
              }
            Seq((sess, nRoutes, nLooped, origs.size.toLong, nLc, lcSum))
          }
        }
        decoded.toDF("peer", "n_routes", "n_looped", "n_originators",
            "n_large_comms", "lc_local_sum")
          .groupBy("peer")
          .agg(sum("n_routes").as("n_routes"),
            sum("n_looped").as("n_looped"),
            sum("n_originators").as("n_originators"),
            sum("n_large_comms").as("n_large_comms"),
            sum("lc_local_sum").as("lc_local_sum"))
      },
      Some("""SELECT user_id % 16 AS peer, count(*) AS n_routes,
              CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_looped,
              count(DISTINCT user_id % 256) AS n_originators,
              CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_large_comms,
              CAST(sum(CASE WHEN event_id % 3 = 0 THEN
                  event_id % 100
                  + CAST(floor(value * 1000) AS BIGINT) % 1000
                ELSE 0 END) AS BIGINT) AS lc_local_sum
              FROM events GROUP BY 1"""),
      doc = "RFC 4456 route reflection + RFC 8092 large communities"),

    // BMP termination + route mirroring (BMP_MSG_TERM=5 /
    // BMP_MSG_ROUTE_MIRROR=6, src/bmp/bmp.h:44-45; TLV walk
    // bmp_process_msg_route_mirror src/bmp/bmp_msg.c:937): each monitor
    // session streams route-monitoring messages, mirrors a subset of
    // PDUs verbatim (TLV 0) or reports them lost (TLV 1 info code), and
    // closes with a reasoned termination. The session accounting a BMP
    // station keeps — routes seen, mirrored PDUs recovered through the
    // BGP codec, loss signals, close reason — is the gated output.
    Q("q133_bmp_mirror",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 8).as("sess"), col("event_id"),
            (col("event_id") % 65536).as("pfx"),
            (col("event_id") % 6 === 0).as("mirror"),
            (col("event_id") % 12 === 0).as("lost"))
          .as[(Long, Long, Long, Boolean, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val peer = BmpMsg.PeerHeader(0, 0, 0L, sess, 65000L + sess,
              sess, 0L, 0L)
            val wire = Iterator.single(
                BmpMsg.encodeInitiation(Seq(1 -> s"monitor-$sess"))) ++
              run.flatMap { case (_, _, pfx, mirror, lost) =>
                val u = BgpMsg.Update(nlri = Seq(BgpMsg.Route(pfx, 32)),
                  origin = Some(0), asPath = Seq(65000L + sess),
                  nextHop = Some(sess))
                BmpMsg.encodeRouteMonitoring(peer, u) +: (
                  if (!mirror) Nil
                  else if (lost) Seq(BmpMsg.encodeRouteMirror(peer, None,
                    Some(1)))
                  else Seq(BmpMsg.encodeRouteMirror(peer,
                    Some(BgpMsg.encode(u)), None)))
              } ++
              Iterator.single(BmpMsg.encodeTermination((sess % 3).toInt,
                Seq(0 -> "bye")))
            // station accounting folds as chunks decode — O(1) state
            var nRoutes = 0L; var nPdus = 0L; var nLost = 0L
            var reason = -1L
            SessionWalk.chunks(wire).flatMap(BmpMsg.decodeStream).foreach {
              case _: BmpMsg.RouteMonitoring => nRoutes += 1
              case m: BmpMsg.RouteMirror =>
                if (m.mirrored.nonEmpty) nPdus += 1
                if (m.infoCode.contains(1)) nLost += 1
              case BmpMsg.Termination(r) =>
                if (reason < 0) reason = r.toLong
              case _ => ()
            }
            Iterator.single((sess, nRoutes, nPdus, nLost, reason))
          }
        }
        decoded.toDF("peer", "n_routes", "n_mirror_pdus", "n_mirror_lost",
          "term_reason")
      },
      Some("""SELECT user_id % 8 AS peer, count(*) AS n_routes,
              CAST(sum(CASE WHEN event_id % 6 = 0 AND event_id % 12 != 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mirror_pdus,
              CAST(sum(CASE WHEN event_id % 12 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mirror_lost,
              user_id % 8 % 3 AS term_reason
              FROM events GROUP BY 1"""),
      doc = "BMP termination + route mirroring: PDU recovery and loss TLVs"),

    // BMP binary session parsing (RFC 7854; src/bmp/bmp_msg.c): each
    // monitored peer's stream is Initiation + Peer Up + Route Monitoring
    // messages whose bodies are real per-peer headers + encapsulated BGP
    // UPDATEs (the q93 codec). The monitor parses the stream and compacts
    // the advertised routes per peer ASN; the oracle derives the same
    // state from raw events. Framing, per-peer-header, or encapsulated-
    // UPDATE defects break parity.
    Q("q97_bmp_wire",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("sess"), col("event_id"),
            ((col("user_id") % 64) * 512 + col("event_id") % 512).as("pfx"),
            (col("event_type") === "error").as("wd"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("med"))
          .as[(Long, Long, Long, Boolean, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val peer = BmpMsg.PeerHeader(0, 0, sess % 4, sess,
              65000L + sess, sess, 0L, 0L)
            val wire = Iterator(BmpMsg.encodeInitiation(
                Seq(1 -> "graft-monitor")), BmpMsg.encodePeerUp(peer)) ++
              run.map { case (_, _, pfx, wd, med) =>
                val route = BgpMsg.Route(pfx << 8, 24)
                BmpMsg.encodeRouteMonitoring(peer,
                  if (wd) BgpMsg.Update(withdrawn = Seq(route))
                  else BgpMsg.Update(nlri = Seq(route), origin = Some(0),
                    med = Some(med)))
              }
            // one row per monitored route into the per-peer RIB's
            // max_by; seq as in q93 over every decoded BMP message
            SessionWalk.chunks(wire).flatMap(BmpMsg.decodeStream)
              .zipWithIndex.flatMap {
                case (BmpMsg.RouteMonitoring(p, u), i) =>
                  u.withdrawn.map(r =>
                    (p.peerAs, r.prefix >> 8, 2L * i, "withdraw", 0L)) ++
                  u.nlri.map(r => (p.peerAs, r.prefix >> 8, 2L * i + 1,
                    "update", u.med.getOrElse(0L)))
                case _ => Nil
              }
          }
        }
        decoded.toDF("peer_as", "prefix", "seq", "op", "med")
          .groupBy("peer_as", "prefix")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(med, seq)").as("last_med"))
          .groupBy("peer_as")
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_active"),
            sum(when(col("last_op") === "withdraw", 1L).otherwise(0L))
              .as("n_withdrawn"),
            sum(when(col("last_op") === "update", col("last_med"))
              .otherwise(0L)).as("sum_med"))
      },
      Some("""WITH msgs AS (SELECT 65000 + user_id % 64 AS peer_as,
                (user_id % 64) * 512 + event_id % 512 AS prefix,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med
              FROM events),
            rib AS (SELECT peer_as, prefix, arg_max(op, seq) AS last_op,
                arg_max(med, seq) AS last_med
              FROM msgs GROUP BY 1, 2)
            SELECT peer_as,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'withdraw' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_withdrawn,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_med ELSE 0 END)
                AS BIGINT) AS sum_med
            FROM rib GROUP BY peer_as"""),
      doc = "BMP binary stream: per-peer headers + encapsulated UPDATEs"),

    // Time-versioned RIB as-of lookup (SURVEY §1.4 "versioned dimension
    // table for as-of joins"): BGP updates/withdraws stream in; each flow
    // resolves against the route version in effect at its start time —
    // one sorted merge per (peer, prefix), no per-record subquery.
    Q("q88_rib_asof",
      (s, d) => {
        val ev = Tables.events(s, d)
        val msgs = ev.filter(col("event_id") % 7 === 0).select(
          (col("user_id") % 2).as("peer"),
          (col("event_id") % 512).as("prefix"),
          expr("unix_micros(ts)").as("tu"),
          lit(0L).as("kind"), col("event_id"),
          when(col("event_type") === "error", "withdraw")
            .otherwise("update").as("op"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("med"),
          lit(0L).as("bytes"))
        val f = FlowView.fromEvents(ev.filter(col("event_id") % 7 =!= 0))
          .select((col("ip_src") % 2).as("peer"),
            (col("ip_dst") % 512).as("prefix"),
            col("t0u").as("tu"), lit(1L).as("kind"), col("event_id"),
            lit(null).cast("string").as("op"),
            lit(null).cast("long").as("med"), col("bytes"))
        val w = Window.partitionBy("peer", "prefix")
          .orderBy("tu", "kind", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        msgs.unionByName(f)
          .withColumn("eff_op", last("op", ignoreNulls = true).over(w))
          .withColumn("eff_med", last("med", ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .withColumn("resolved",
            (col("eff_op") === "update").cast("long"))
          .groupBy("peer")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("resolved"), lit(0L))).as("n_resolved"),
            sum(when(col("resolved") === 1, col("bytes")).otherwise(0L))
              .as("bytes_resolved"),
            sum(when(col("resolved") === 1, col("eff_med")).otherwise(0L))
              .as("sum_med"))
      },
      Some(s"""WITH ev AS (SELECT * FROM events),
            msgs AS (SELECT user_id % 2 AS peer, event_id % 512 AS prefix,
                epoch_us(ts) AS tu, 0 AS kind, event_id,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 100) AS BIGINT) AS med, 0 AS bytes
              FROM ev WHERE event_id % 7 = 0),
            fl AS (SELECT (user_id * 48271 % 65536) % 2 AS peer,
                ((event_id * 31 + user_id) % 65536) % 512 AS prefix,
                epoch_us(ts) AS tu, 1 AS kind, event_id,
                CAST(NULL AS VARCHAR) AS op, CAST(NULL AS BIGINT) AS med,
                CAST(floor(value * 1000) AS BIGINT) + 40 AS bytes
              FROM ev WHERE event_id % 7 != 0),
            u AS (SELECT * FROM msgs UNION ALL SELECT * FROM fl),
            e AS (SELECT *,
                last_value(op IGNORE NULLS) OVER (PARTITION BY peer, prefix
                  ORDER BY tu, kind, event_id
                  ROWS UNBOUNDED PRECEDING) AS eff_op,
                last_value(med IGNORE NULLS) OVER (PARTITION BY peer, prefix
                  ORDER BY tu, kind, event_id
                  ROWS UNBOUNDED PRECEDING) AS eff_med
              FROM u)
            SELECT peer, count(*) AS n,
              CAST(sum(CASE WHEN eff_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resolved,
              CAST(sum(CASE WHEN eff_op = 'update' THEN bytes ELSE 0 END)
                AS BIGINT) AS bytes_resolved,
              CAST(sum(CASE WHEN eff_op = 'update' THEN eff_med ELSE 0 END)
                AS BIGINT) AS sum_med
            FROM e WHERE kind = 1 GROUP BY peer"""),
      doc = "time-versioned RIB as-of lookup via sorted merge"),

    // Streaming-telemetry JSON decode (FIXTURES F4 / telemetry decoders
    // src/telemetry/telemetry.h:49-53): wire JSON event messages parsed
    // with an explicit schema via from_json, then aggregated. The wire
    // frames are built in-query from the event stream (to_json), so the
    // oracle can re-derive them with DuckDB's JSON functions.
    Q("q79_telemetry_json",
      (s, d) => {
        val wire = Tables.events(s, d).select(to_json(struct(
          col("event_id").as("seq"),
          (col("user_id") % 2).as("peer"),
          col("event_type").as("log_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("med"))).as("msg"))
        wire.select(from_json(col("msg"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "seq BIGINT, peer BIGINT, log_type STRING, med BIGINT"))
            .as("m"))
          .select(col("m.peer"), col("m.log_type"), col("m.seq"),
            col("m.med"))
          .groupBy("peer", "log_type")
          .agg(count(lit(1)).as("n"), max("seq").as("max_seq"),
            sum("med").as("sum_med"))
      },
      Some("""SELECT (msg->>'$.peer')::BIGINT AS peer,
              msg->>'$.log_type' AS log_type,
              count(*) AS n,
              max((msg->>'$.seq')::BIGINT) AS max_seq,
              CAST(sum((msg->>'$.med')::BIGINT) AS BIGINT) AS sum_med
              FROM (
                SELECT to_json(struct_pack(
                  seq := event_id, peer := user_id % 2,
                  log_type := event_type,
                  med := CAST(floor(value * 100) AS BIGINT))) AS msg
                FROM events)
              GROUP BY 1, 2"""),
      doc = "telemetry JSON wire decode via from_json with explicit schema"),

    // Option-record correlation: flows pick up the latest sampling-rate
    // option record for their exporter at or before their start time —
    // an as-of join done as one sorted merge per exporter (no per-record
    // subquery, no fact-side rescan; src/pkt_handlers.c:3690-3830).
    Q("q53_option_asof",
      (s, d) => {
        val opts = Dims.optionRates(s).select(col("exporter"), col("tu"),
          col("rate"), lit(0L).as("kind"), lit(0L).as("event_id"),
          lit(0L).as("bytes"))
        val f = flows(s, d).select((col("ip_src") % 16).as("exporter"),
          col("t0u").as("tu"), lit(null).cast("long").as("rate"),
          lit(1L).as("kind"), col("event_id"), col("bytes"))
        val w = Window.partitionBy("exporter")
          .orderBy("tu", "kind", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        opts.unionByName(f)
          .withColumn("eff_rate", last("rate", ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .groupBy("exporter", "eff_rate")
          .agg(count(lit(1)).as("n"),
            sum(col("bytes") * col("eff_rate")).as("bytes_renorm"))
      },
      Some(s"""WITH flows AS (${FlowView.sql}), ${Dims.optionRatesSql},
            u AS (SELECT exporter, tu, rate, 0 AS kind, 0 AS event_id,
                0 AS bytes FROM option_rates
              UNION ALL
              SELECT ip_src % 16, t0u, NULL, 1, event_id, bytes FROM flows),
            e AS (SELECT *, last_value(rate IGNORE NULLS) OVER
                (PARTITION BY exporter ORDER BY tu, kind, event_id
                 ROWS UNBOUNDED PRECEDING) AS eff_rate FROM u)
            SELECT exporter, eff_rate, count(*) AS n,
              CAST(sum(bytes * eff_rate) AS BIGINT) AS bytes_renorm
            FROM e WHERE kind = 1 GROUP BY 1, 2"""),
      doc = "option-record as-of correlation via sorted merge per exporter"),

    // sql_trigger_exec purge-event metadata (docs/TRIGGER_VARS;
    // sql_trigger_exec CONFIG-KEYS): each cache purge spawns a trigger
    // with $EFFECTIVE_SQL_TABLE (dynamic name), $SQL_HISTORY_BASETIME,
    // $TOTAL_ELEM_NUMBER (queued aggregates), $EFFECTIVE_ELEM_NUMBER
    // (after the preprocess filter), and the INSERT/UPDATE split —
    // an element UPDATEs when its key already reached the table in an
    // earlier purge (the SQL plugin's UPDATE-then-INSERT contract,
    // q105) and INSERTs otherwise. One purge-window aggregate + one
    // key-history window reproduce every variable relationally.
    Q("q157_trigger_vars",
      (s, d) => {
        val minb = 200000L
        val elems = flows(s, d)
          .withColumn("purge", expr("t0u div 300000000"))
          .groupBy("purge", "ip_src")
          .agg(sum("bytes").as("b"))
        val hist = org.apache.spark.sql.expressions.Window
          .partitionBy("ip_src")
        val marked = elems
          .withColumn("eff", (col("b") >= minb).cast("long"))
          .withColumn("first_eff", min(when(col("eff") === 1L,
            col("purge"))).over(hist))
        marked.groupBy("purge")
          .agg(count(lit(1)).as("total_elem"),
            sum("eff").as("effective_elem"),
            sum(when(col("eff") === 1L &&
              col("purge") === col("first_eff"), 1L).otherwise(0L))
              .as("insert_queries"),
            sum(when(col("eff") === 1L &&
              col("purge") > col("first_eff"), 1L).otherwise(0L))
              .as("update_queries"))
          .select(
            concat(lit("acct_"), (col("purge") * 300).cast("string"))
              .as("effective_sql_table"),
            (col("purge") * 300).as("history_basetime"),
            col("total_elem"), col("effective_elem"),
            col("insert_queries"), col("update_queries"))
      },
      Some(s"""$flowsSqlCte,
            elems AS (SELECT t0u // 300000000 AS purge, ip_src,
                CAST(sum(bytes) AS BIGINT) AS b
              FROM flows GROUP BY 1, 2),
            marked AS (SELECT purge, ip_src, b,
                CASE WHEN b >= 200000 THEN 1 ELSE 0 END AS eff,
                min(CASE WHEN b >= 200000 THEN purge END)
                  OVER (PARTITION BY ip_src) AS first_eff
              FROM elems)
            SELECT 'acct_' || CAST(purge * 300 AS VARCHAR)
                AS effective_sql_table,
              purge * 300 AS history_basetime,
              count(*) AS total_elem,
              CAST(sum(eff) AS BIGINT) AS effective_elem,
              CAST(sum(CASE WHEN eff = 1 AND purge = first_eff THEN 1
                ELSE 0 END) AS BIGINT) AS insert_queries,
              CAST(sum(CASE WHEN eff = 1 AND purge > first_eff THEN 1
                ELSE 0 END) AS BIGINT) AS update_queries
            FROM marked GROUP BY purge"""),
      doc = "sql_trigger_exec vars: per-purge table/elem/insert-update"),

    // AIGP (RFC 7311 attr 26) + Prefix-SID label index (RFC 8669 attr
    // 40) on the wire — the last two attribute columns of the
    // reference's BGP metrics export (docs/BGP_BMP_METRICS.md: `aigp`,
    // `psid_li`). Updates carry both through real TLV-in-attribute
    // encodings; RIB compaction keeps the latest per prefix and the
    // per-peer rollup sums the surviving metrics. TLV-walk or
    // length-accounting defects break parity.
    Q("q161_bgp_aigp_psid",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 32).as("sess"), col("event_id"),
            ((col("user_id") % 32) * 256 + col("event_id") % 256)
              .as("pfx"),
            (col("event_type") === "error").as("wd"),
            expr("CAST(floor(value * 1000) AS BIGINT)").as("aigp"))
          .as[(Long, Long, Long, Boolean, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (sess, run) =>
            val peer = sess % 2
            val wire = run.map { case (_, _, pfx, wd, aigp) =>
              val route = BgpMsg.Route(pfx << 8, 24)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawn = Seq(route)))
              else BgpMsg.encode(BgpMsg.Update(nlri = Seq(route),
                origin = Some(0), asPath = Seq(65000L + sess),
                nextHop = Some(sess), aigp = Some(aigp),
                labelIndex = Some(pfx % 1024)))
            }
            // seq as in q93
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                u.withdrawn.map(r =>
                  (peer, r.prefix >> 8, 2L * i, "withdraw", 0L, 0L)) ++
                u.nlri.map(r => (peer, r.prefix >> 8, 2L * i + 1, "update",
                  u.aigp.getOrElse(0L), u.labelIndex.getOrElse(0L)))
              }
          }
        }
        decoded
          .toDF("peer", "prefix", "seq", "op", "aigp", "psid_li")
          .groupBy("peer", "prefix")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(aigp, seq)").as("last_aigp"),
            expr("max_by(psid_li, seq)").as("last_li"))
          .groupBy("peer")
          .agg(
            sum(when(col("last_op") === "update", 1L).otherwise(0L))
              .as("n_active"),
            sum(when(col("last_op") === "update", col("last_aigp"))
              .otherwise(0L)).as("sum_aigp"),
            sum(when(col("last_op") === "update", col("last_li"))
              .otherwise(0L)).as("sum_li"))
      },
      Some("""WITH msgs AS (SELECT (user_id % 32) % 2 AS peer,
                (user_id % 32) * 256 + event_id % 256 AS prefix,
                event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                CAST(floor(value * 1000) AS BIGINT) AS aigp,
                ((user_id % 32) * 256 + event_id % 256) % 1024 AS li
              FROM events),
            rib AS (SELECT peer, prefix, arg_max(op, seq) AS last_op,
                arg_max(aigp, seq) AS last_aigp,
                arg_max(li, seq) AS last_li
              FROM msgs GROUP BY 1, 2)
            SELECT peer,
              CAST(sum(CASE WHEN last_op = 'update' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_aigp
                ELSE 0 END) AS BIGINT) AS sum_aigp,
              CAST(sum(CASE WHEN last_op = 'update' THEN last_li ELSE 0
                END) AS BIGINT) AS sum_li
            FROM rib GROUP BY peer"""),
      doc = "RFC 7311 AIGP + RFC 8669 Prefix-SID through the RIB"),

    // BGP-LS (RFC 7752; reference src/bgp/bgp_ls.c): link NLRIs ride
    // MP_REACH/MP_UNREACH under AFI 16388/SAFI 71 — [type][len][proto]
    // [identifier] + node-descriptor TLVs (256/257 with AS/router-id
    // sub-TLVs) — and the LS attribute (29) carries the IGP/TE metrics
    // and node name. One wire stream per local node; the LS "RIB" keeps
    // the latest state per (local, remote) link, like the reference's
    // cdada-map keyed on the NLRI (bgp_ls.c:215-221). The per-node
    // rollup is the topology view a BGP-LS consumer exports.
    Q("q162_bgp_ls",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 24).as("local_nd"), col("event_id"),
            ((col("event_id") * 7 + 3) % 24).as("remote_nd"),
            (col("event_type") === "error").as("wd"),
            (col("event_id") % 1000 + 1).as("igp"),
            (col("event_id") % 5000 + 1).as("te"))
          .as[(Long, Long, Long, Boolean, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (local, run) =>
            val wire = run.map { case (_, _, remote, wd, igp, te) =>
              val link = BgpMsg.LsLink(2, 65000L + local, local,
                65000L + remote, remote,
                167772160L + (local * 24 + remote) % 256,
                167772161L + (local * 24 + remote) % 256)
              if (wd) BgpMsg.encode(BgpMsg.Update(withdrawnLs = Seq(link)))
              else BgpMsg.encode(BgpMsg.Update(nlriLs = Seq(link),
                nextHop = Some(local),
                lsAttr = Some(BgpMsg.LsAttr(
                  nodeName = Some(s"node$local"),
                  igpMetric = Some(igp), teMetric = Some(te)))))
            }
            // one row per decoded link into the topology RIB's max_by
            // per (local, remote); seq as in q93
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                val a = u.lsAttr.getOrElse(BgpMsg.LsAttr())
                u.withdrawnLs.collect { case l: BgpMsg.LsLink =>
                  (l.localId, l.remoteId, 2L * i, "withdraw", 0L, 0L, "")
                } ++
                u.nlriLs.collect { case l: BgpMsg.LsLink =>
                  (l.localId, l.remoteId, 2L * i + 1, "update",
                    a.igpMetric.getOrElse(0L), a.teMetric.getOrElse(0L),
                    a.nodeName.getOrElse(""))
                }
              }
          }
        }
        decoded
          .toDF("local_nd", "remote_nd", "seq", "op", "igp", "te", "name")
          .groupBy("local_nd", "remote_nd")
          .agg(expr("max_by(op, seq)").as("last_op"),
            expr("max_by(igp, seq)").as("last_igp"),
            expr("max_by(te, seq)").as("last_te"),
            expr("max_by(name, seq)").as("last_name"))
          .filter(col("last_op") === "update")
          .groupBy("local_nd")
          .agg(count(lit(1)).as("n_links"),
            sum("last_igp").as("sum_igp"),
            min("last_te").as("min_te"),
            sum(when(concat(lit("node"), col("local_nd").cast("string"))
              === col("last_name"), 1L).otherwise(0L)).as("names_ok"))
      },
      Some("""WITH msgs AS (SELECT user_id % 24 AS local_nd,
                (event_id * 7 + 3) % 24 AS remote_nd, event_id AS seq,
                CASE WHEN event_type = 'error' THEN 'withdraw'
                     ELSE 'update' END AS op,
                event_id % 1000 + 1 AS igp, event_id % 5000 + 1 AS te
              FROM events),
            rib AS (SELECT local_nd, remote_nd,
                arg_max(op, seq) AS last_op, arg_max(igp, seq) AS last_igp,
                arg_max(te, seq) AS last_te
              FROM msgs GROUP BY 1, 2)
            SELECT local_nd, count(*) AS n_links,
              CAST(sum(last_igp) AS BIGINT) AS sum_igp,
              CAST(min(last_te) AS BIGINT) AS min_te,
              CAST(count(*) AS BIGINT) AS names_ok
            FROM rib WHERE last_op = 'update' GROUP BY local_nd"""),
      doc = "BGP-LS link NLRI + LS attr TLVs into a topology RIB"),

    // BGP-LS v6 topology prefixes (NLRI type 4, BGP_LS_NLRI_V6_TOPO_PFX
    // — src/bgp/bgp_ls.h:40) and multi-topology links (MT-ID TLV 263,
    // RFC 7752 §3.2.1.5): every update carries a /64 v6 prefix (two-limb
    // IP-reach TLV) with its prefix metric, plus a link tagged with the
    // topology it belongs to. The RIB keeps last-wins metrics per
    // prefix; links roll up per topology — the per-node view an LS
    // consumer exports for a multi-topology IGP.
    Q("q180_bgp_ls_v6mt",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 24).as("local_nd"), col("event_id"),
            ((col("user_id") % 24) * 4294967296L +
              (col("event_id") % 4096) * 65536L + 1L).as("hi"),
            (col("event_id") % 100).as("metric"),
            (col("event_id") % 3).as("mt"))
          .as[(Long, Long, Long, Long, Long)]
        // every update carries one /64 prefix and one MT-tagged link,
        // so one decode emits one row per update: max_by keeps the
        // latest metric per (node, hi), the same pass counts each
        // link's MT-ID, and the per-node rollup sums both — one lazy
        // pipeline per session, task memory O(chunk)
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (local, run) =>
            val wire = run.map { case (_, eid, hi, metric, mt) =>
              BgpMsg.encode(BgpMsg.Update(
                nlriLs = Seq(
                  BgpMsg.LsPrefix6(2, 65000L + local, local, hi, 0L, 64),
                  BgpMsg.LsLink(2, 65000L + local, local,
                    65000L + (local + 1) % 24, (local + 1) % 24,
                    167772160L + eid % 256, 167772161L + eid % 256,
                    mtId = mt)),
                nextHop = Some(local),
                lsAttr = Some(BgpMsg.LsAttr(pfxMetric = Some(metric)))))
            }
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                for {
                  p <- u.nlriLs.collectFirst {
                    case p: BgpMsg.LsPrefix6 if p.plen == 64 => p }
                  l <- u.nlriLs.collectFirst { case l: BgpMsg.LsLink => l }
                } yield (p.localId, p.hi, i.toLong,
                  u.lsAttr.flatMap(_.pfxMetric).getOrElse(0L), l.mtId)
              }
          }
        }
        def mtCount(mt: Long) = sum(when(col("mt") === mt, 1L).otherwise(0L))
        decoded.toDF("local_nd", "hi", "seq", "metric", "mt")
          .groupBy("local_nd", "hi")
          .agg(expr("max_by(metric, seq)").as("metric"),
            mtCount(0L).as("n_mt0"), mtCount(1L).as("n_mt1"),
            mtCount(2L).as("n_mt2"))
          .groupBy("local_nd")
          .agg(count(lit(1)).as("n_pfx"), sum("metric").as("sum_metric"),
            sum("n_mt0").as("n_mt0"), sum("n_mt1").as("n_mt1"),
            sum("n_mt2").as("n_mt2"))
      },
      Some("""WITH m AS (SELECT user_id % 24 AS local_nd,
                event_id AS seq,
                (user_id % 24) * 4294967296 + (event_id % 4096) * 65536
                  + 1 AS hi,
                event_id % 100 AS metric, event_id % 3 AS mt
              FROM events),
            rib AS (SELECT local_nd, hi, arg_max(metric, seq) AS metric
              FROM m GROUP BY 1, 2),
            pfx AS (SELECT local_nd, count(*) AS n_pfx,
                CAST(sum(metric) AS BIGINT) AS sum_metric
              FROM rib GROUP BY 1),
            links AS (SELECT local_nd,
                CAST(sum(CASE WHEN mt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_mt0,
                CAST(sum(CASE WHEN mt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_mt1,
                CAST(sum(CASE WHEN mt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_mt2
              FROM m GROUP BY 1)
            SELECT p.local_nd, n_pfx, sum_metric, n_mt0, n_mt1, n_mt2
            FROM pfx p JOIN links USING (local_nd)"""),
      doc = "BGP-LS v6 topology prefixes + multi-topology link MT-IDs"),

    // BMP Loc-RIB instance peer (RFC 9069; reference peer type 3 in
    // src/bmp/bmp.h:74 and stats 8/10 "routes in Loc-RIB",
    // bmp.h:203-205). Routers export adj-rib-in route monitoring under
    // peer type 0 and the post-policy loc-rib under peer type 3 with
    // the F flag (0x80); a closing stats report carries the loc-rib
    // gauge. The query proves the two lanes stay distinct through the
    // shared codec and that the decoded gauge reconciles with the
    // decoded loc-rib route count.
    Q("q163_bmp_locrib",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg}
        // 64 router sessions through the secondary-sort walk: the shuffle
        // delivers each session ordered by event_id, and the handler
        // pulls encode → chunks → decode lazily into its seen-sets —
        // memory is O(chunk + distinct prefixes), never the session's
        // full event set (the r5 "weak" fix).
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("router"), col("event_id"),
            ((col("user_id") % 64) * 4096 + col("event_id") % 512)
              .as("pfx"),
            (expr("CAST(floor(value * 1000) AS BIGINT)") >= 500)
              .as("pass"))
          .as[(Long, Long, Long, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (router, run) =>
            def mon(peerType: Int, flags: Int, pfx: Long) =
              BmpMsg.encodeRouteMonitoring(
                BmpMsg.PeerHeader(peerType, flags, 0L, router,
                  65000 + router, router, 0L, 0L),
                BgpMsg.Update(nlri = Seq(BgpMsg.Route(pfx << 8, 24)),
                  origin = Some(0), nextHop = Some(router)))
            val encLoc = scala.collection.mutable.Set[Long]()
            // `++` is lazy: the stats report encodes once the run is spent
            val wire = run.flatMap { case (_, _, pfx, pass) =>
                if (pass) encLoc += pfx
                mon(0, 0, pfx) +:                 // adj-rib-in
                  (if (pass) Seq(mon(3, 0x80, pfx)) else Nil) // loc-rib
              } ++
              Iterator.single(BmpMsg.encodeStatsReport(
                BmpMsg.PeerHeader(3, 0x80, 0L, router, 65000 + router,
                  router, 0L, 0L),
                Map(8 -> encLoc.size.toLong)))
            val adjSeen = scala.collection.mutable.Set[Long]()
            val locSeen = scala.collection.mutable.Set[Long]()
            var g8 = -1L
            SessionWalk.chunks(wire).flatMap(BmpMsg.decodeStream).foreach {
              case m: BmpMsg.RouteMonitoring if m.peer.peerType == 0 =>
                m.update.nlri.foreach(r => adjSeen += (r.prefix >> 8))
              case m: BmpMsg.RouteMonitoring if m.peer.peerType == 3 &&
                  (m.peer.flags & 0x80) != 0 =>
                m.update.nlri.foreach(r => locSeen += (r.prefix >> 8))
              case m: BmpMsg.StatsReport if m.peer.peerType == 3 =>
                g8 = m.stats.getOrElse(8, -1L)
              case _ => ()
            }
            Iterator((router, adjSeen.size.toLong, locSeen.size.toLong,
              g8, if (locSeen.size.toLong == g8) 1L else 0L))
          }
        }
        decoded.toDF("router", "n_adj", "n_locrib", "gauge8", "reconciled")
      },
      Some("""WITH msgs AS (SELECT user_id % 64 AS router,
                (user_id % 64) * 4096 + event_id % 512 AS pfx,
                CAST(floor(value * 1000) AS BIGINT) >= 500 AS pass
              FROM events)
            SELECT router, CAST(count(DISTINCT pfx) AS BIGINT) AS n_adj,
              CAST(count(DISTINCT CASE WHEN pass THEN pfx END) AS BIGINT)
                AS n_locrib,
              CAST(count(DISTINCT CASE WHEN pass THEN pfx END) AS BIGINT)
                AS gauge8,
              CAST(1 AS BIGINT) AS reconciled
            FROM msgs GROUP BY router"""),
      doc = "RFC 9069 BMP Loc-RIB peer lane + loc-rib stats gauge"),

    // BMP stats-report counter semantics (RFC 7854 §4.8; reference
    // type table src/bmp/bmp.h:203-233): type 1 duplicate prefix
    // advertisements, type 3 updates invalidated by CLUSTER_LIST loop,
    // type 4 by AS_PATH loop, type 7 routes in Adj-RIBs-In. The router
    // stream carries injected anomalies — exact duplicates, paths
    // containing the router's own AS, cluster lists containing its own
    // cluster id — and closes with a stats report. The collector
    // RECOMPUTES every counter from the decoded updates (loop checks
    // on the wire attrs, a seen-set for duplicates) and reconciles
    // against the router's own report; any codec or loop-check defect
    // breaks the reconciled flag, not just a sum.
    Q("q174_bmp_stats",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("router"), col("event_id"),
            (col("event_type") === "error").as("asloop"),
            (col("event_type") =!= "error" && col("event_id") % 11 === 0)
              .as("cloop"),
            (col("event_type") =!= "error" && col("event_id") % 11 =!= 0
              && col("event_id") % 7 === 0).as("dup"))
          .as[(Long, Long, Boolean, Boolean, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (router, run) =>
            val ownAs = 65000L + router
            val peer = BmpMsg.PeerHeader(0, 0, 0L, router, ownAs,
              router, 0L, 0L)
            // router side: running counters while encoding; `++` is lazy,
            // so the stats report encodes once the run is spent
            var (nAsloop, nCloop, nDup, nEvs) = (0L, 0L, 0L, 0L)
            val wire = run.flatMap { case (_, eid, asloop, cloop, dup) =>
                val path =
                  if (asloop) Seq(64900L, ownAs, 64800L)
                  else Seq(64900L, 64800L + eid % 16)
                val cl = if (cloop) Seq(router, 999L) else Seq(999L)
                val m = BmpMsg.encodeRouteMonitoring(peer, BgpMsg.Update(
                  nlri = Seq(BgpMsg.Route(eid << 8, 24)),
                  origin = Some(0), asPath = path, nextHop = Some(router),
                  clusterList = cl))
                nEvs += 1
                if (asloop) nAsloop += 1
                if (cloop) nCloop += 1
                if (dup) nDup += 1
                if (dup) Seq(m, m) else Seq(m) // exact re-advertise
              } ++
              Iterator.single(BmpMsg.encodeStatsReport(peer,
                Map(1 -> nDup, 3 -> nCloop, 4 -> nAsloop,
                  7 -> (nEvs - nAsloop - nCloop))))
            // collector side: recompute every counter from the decoded
            // stream (seen-set = the distinct-count state any exact dup
            // check needs; 8-byte keys only)
            val seen = scala.collection.mutable.Set[Long]()
            var (rDup, rCloop, rAsloop) = (0L, 0L, 0L)
            var rep: Map[Int, Long] = Map.empty
            SessionWalk.chunks(wire).flatMap(BmpMsg.decodeStream).foreach {
              case m: BmpMsg.RouteMonitoring =>
                val u = m.update
                val pfx = u.nlri.head.prefix
                if (u.asPath.contains(ownAs)) rAsloop += 1
                else if (u.clusterList.contains(router)) rCloop += 1
                else if (seen.contains(pfx)) rDup += 1
                else seen += pfx
              case m: BmpMsg.StatsReport => rep = m.stats
              case _ => ()
            }
            val ok = rep.get(1).contains(rDup) &&
              rep.get(3).contains(rCloop) && rep.get(4).contains(rAsloop) &&
              rep.get(7).contains(seen.size.toLong)
            Iterator((router, rDup, rCloop, rAsloop, seen.size.toLong,
              if (ok) 1L else 0L))
          }
        }
        decoded.toDF("router", "dup_pfx", "cluster_loop", "as_loop",
          "adj_rib_in", "reconciled")
      },
      Some("""WITH e AS (SELECT user_id % 64 AS router,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                  AS asloop,
                CASE WHEN event_type != 'error' AND event_id % 11 = 0
                  THEN 1 ELSE 0 END AS cloop,
                CASE WHEN event_type != 'error' AND event_id % 11 != 0
                  AND event_id % 7 = 0 THEN 1 ELSE 0 END AS dup
              FROM events)
            SELECT router, CAST(sum(dup) AS BIGINT) AS dup_pfx,
              CAST(sum(cloop) AS BIGINT) AS cluster_loop,
              CAST(sum(asloop) AS BIGINT) AS as_loop,
              CAST(count(*) - sum(asloop) - sum(cloop) AS BIGINT)
                AS adj_rib_in,
              CAST(1 AS BIGINT) AS reconciled
            FROM e GROUP BY router"""),
      doc = "RFC 7854 §4.8 stats: dup/loop counters reconciled from wire"),

    // BMP Adj-RIB-Out monitoring (RFC 8671: the O flag, bit 0x10 in
    // the per-peer header, marks route monitoring sourced from what
    // the router ADVERTISED to the peer post-policy, vs the default
    // Adj-RIB-In view). Routers emit both lanes — the in-lane carries
    // everything received, the out-lane the post-policy subset — and
    // the collector splits on the flag to report per-peer advertised
    // vs withheld counts, the export-policy visibility RFC 8671 adds.
    Q("q181_bmp_ribout",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg}
        // secondary-sort walk over 64 router sessions with per-peer
        // RUNNING counters — no full-group materialization, no
        // post-decode groupBy (the r5 de-weakening shape)
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("router"), col("event_id"),
            (col("user_id") % 4).as("peer"),
            ((col("user_id") % 64) * 65536 + col("event_id") % 2048)
              .as("pfx"),
            (expr("CAST(floor(value * 1000) AS BIGINT)") % 4 =!= 0)
              .as("advertised"))
          .as[(Long, Long, Long, Long, Boolean)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (router, run) =>
            def mon(peer: Long, flags: Int, pfx: Long) =
              BmpMsg.encodeRouteMonitoring(
                BmpMsg.PeerHeader(0, flags, 0L, peer, 65100 + peer,
                  peer, 0L, 0L),
                BgpMsg.Update(nlri = Seq(BgpMsg.Route(pfx << 8, 24)),
                  origin = Some(0), nextHop = Some(router)))
            val wire = run.flatMap { case (_, _, peer, pfx, adv) =>
              mon(peer, 0x00, pfx) +:           // Adj-RIB-In
                (if (adv) Seq(mon(peer, 0x10, pfx)) else Nil) // O flag
            }
            val nIn = scala.collection.mutable.Map[Long, Long]()
            val nOut = scala.collection.mutable.Map[Long, Long]()
            SessionWalk.chunks(wire).flatMap(BmpMsg.decodeStream).foreach {
              case m: BmpMsg.RouteMonitoring =>
                val tgt = if ((m.peer.flags & 0x10) != 0) nOut else nIn
                tgt(m.peer.peerAddr) = tgt.getOrElse(m.peer.peerAddr, 0L) + 1L
              case _ => ()
            }
            nIn.keysIterator.map { peer =>
              val i = nIn(peer); val o = nOut.getOrElse(peer, 0L)
              (router, peer, i, o, i - o)
            }.toSeq
          }
        }
        decoded.toDF("router", "peer", "n_in", "n_out", "withheld")
      },
      Some("""WITH e AS (SELECT user_id % 64 AS router,
                user_id % 4 AS peer,
                CASE WHEN CAST(floor(value * 1000) AS BIGINT) % 4 != 0
                  THEN 1 ELSE 0 END AS adv
              FROM events)
            SELECT router, peer, count(*) AS n_in,
              CAST(sum(adv) AS BIGINT) AS n_out,
              CAST(count(*) - sum(adv) AS BIGINT) AS withheld
            FROM e GROUP BY 1, 2"""),
      doc = "RFC 8671 Adj-RIB-Out: O-flag lane split, advertised vs withheld"),

    // AS-path post-processing knobs (CONFIG-KEYS): bgp_aspath_radius
    // trims paths to N hops (prepends count as hops); with
    // bgp_peer_as_skip_subas the peer AS is the first ASN OUTSIDE the
    // confederated/private range 64512-65534 — falling back to the
    // first sub-AS when the whole path is internal; and
    // bgp_stdcomm_pattern_to_asn maps a matching standard community
    // XXXXX:YYYYY onto (Peer-AS, Origin-AS) for statics/connected
    // routes that carry no usable path. All three run on the decoded
    // wire RIB; flows join the broadcast result.
    Q("q184_aspath_post",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("k"), col("event_id"))
          .as[(Long, Long)]
        val rib = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (k, run) =>
            val wire = run.map { case (_, eid) =>
              val priv = eid % 3 == 0
              val short = !priv && eid % 7 == 0
              val path =
                if (priv) Seq(64512L + eid % 4, 65001L + eid % 8,
                  200L + eid % 16, 300L + eid % 7, 400L)
                else if (short) Seq(1000L + eid % 10, 400L)
                else Seq(1000L + eid % 10, 200L + eid % 16,
                  300L + eid % 7, 400L)
              val comms =
                if (eid % 5 == 0)
                  Seq((65123L << 16) | (7000L + eid % 100))
                else Seq((65000L << 16) | 1L)
              BgpMsg.encode(BgpMsg.Update(
                nlri = Seq(BgpMsg.Route(k << 24, 8)), origin = Some(0),
                asPath = path, nextHop = Some(k), communities = comms))
            }
            // collector post-processing on the decoded attributes, one
            // row per announced route; one prefix per session, so the
            // max_by below keeps the latest post-processed attrs
            def skipSubAs(p: Seq[Long]): Long =
              p.find(a => a < 64512L || a > 65534L).getOrElse(p.head)
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .zipWithIndex.flatMap { case (u, i) =>
                val pat = u.communities
                  .map(c => (c >>> 16, c & 0xffffL))
                  .find(_._1 == 65123L) // stdcomm_pattern "65123:*"
                val peerAs = pat.map(_._1)
                  .getOrElse(skipSubAs(u.asPath))
                val originAs = pat.map(_._2)
                  .getOrElse(u.asPath.last)
                val trimmed = u.asPath.take(3) // aspath_radius = 3
                u.nlri.map(_ =>
                  (k, i.toLong, peerAs, originAs, trimmed.size.toLong))
              }
          }
        }.toDF("k", "seq", "peer_as", "origin_as", "radius_len")
          .groupBy("k")
          .agg(expr("max_by(peer_as, seq)").as("peer_as"),
            expr("max_by(origin_as, seq)").as("origin_as"),
            expr("max_by(radius_len, seq)").as("radius_len"))
        val fl = flows(s, d)
        fl.join(broadcast(rib), fl("ip_dst") % 64 === rib("k"))
          .groupBy("peer_as", "origin_as", "radius_len")
          .agg(count(lit(1)).as("n"), sum("bytes").as("bytes"))
      },
      Some(s"""$flowsSqlCte,
            m AS (SELECT user_id % 64 AS k, event_id AS seq,
                event_id % 3 = 0 AS priv,
                event_id % 3 != 0 AND event_id % 7 = 0 AS short,
                event_id % 5 = 0 AS haspat,
                event_id FROM events),
            post AS (SELECT k, seq,
                CASE WHEN haspat THEN 65123
                     WHEN priv THEN 200 + event_id % 16
                     ELSE 1000 + event_id % 10 END AS peer_as,
                CASE WHEN haspat THEN 7000 + event_id % 100
                     ELSE 400 END AS origin_as,
                CASE WHEN short THEN 2 ELSE 3 END AS radius_len
              FROM m),
            rib AS (SELECT k, arg_max(peer_as, seq) AS peer_as,
                arg_max(origin_as, seq) AS origin_as,
                arg_max(radius_len, seq) AS radius_len
              FROM post GROUP BY k)
            SELECT peer_as, origin_as, radius_len, count(*) AS n,
              CAST(sum(bytes) AS BIGINT) AS bytes
            FROM flows JOIN rib ON ip_dst % 64 = k
            GROUP BY 1, 2, 3"""),
      doc = "aspath radius + skip-subas peering + stdcomm-to-ASN mapping"),

    // bmp_daemon_parse_proxy_header (CONFIG-KEYS; parse_proxy_header,
    // src/network.c): BMP sessions arrive through an HAProxy front-end
    // that prepends a PROXY protocol header; a PROXY command (v1 text
    // or v2 binary) re-attributes the session to the ORIGINAL router
    // address carried in the header, a v2 LOCAL command keeps the
    // socket (proxy) identity. Streams mix all three forms; route
    // counts roll up per attributed source.
    Q("q185_bmp_proxy",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BmpMsg, ProxyHdr}
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("router"), col("event_id"))
          .as[(Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (router, run) =>
            val origIp = 0x0A000000L + router
            val proxyIp = 0xC0A80001L
            val hdr = (router % 3) match {
              case 0 => ProxyHdr.encodeV1(origIp, proxyIp, 40000, 5000)
              case 1 => ProxyHdr.encodeV2(proxyCmd = true, origIp,
                proxyIp, 40000, 5000)
              case _ => ProxyHdr.encodeV2(proxyCmd = false, 0L, 0L, 0, 0)
            }
            val chunks = SessionWalk.chunks(Iterator.single(hdr) ++
              run.map { case (_, eid) =>
                BmpMsg.encodeRouteMonitoring(
                  BmpMsg.PeerHeader(0, 0, 0L, router, 65000 + router,
                    router, 0L, 0L),
                  BgpMsg.Update(nlri = Seq(BgpMsg.Route(eid << 8, 24)),
                    origin = Some(0), nextHop = Some(router)))
              })
            // the PROXY header leads the stream; the FIRST chunk carries
            // it, exactly like the first recv() on the socket
            val first = chunks.next()
            val parsed = ProxyHdr.decode(first).getOrElse(
              ProxyHdr.Parsed(None, 0))
            val n = (Iterator.single(first.drop(parsed.consumed)) ++ chunks)
              .map(BmpMsg.decodeStream(_).count {
                case _: BmpMsg.RouteMonitoring => true
                case _ => false
              }.toLong).sum
            Iterator((parsed.src.fold(proxyIp)(_._1), router, n))
          }
        }
        decoded.toDF("src_ip", "router", "n_routes")
          .groupBy("src_ip")
          .agg(countDistinct("router").as("n_sessions"),
            sum("n_routes").as("n_routes"))
      },
      Some("""WITH e AS (SELECT user_id % 64 AS router, count(*) AS n
              FROM events GROUP BY 1)
            SELECT CASE WHEN router % 3 = 2 THEN 3232235521
                ELSE 167772160 + router END AS src_ip,
              count(*) AS n_sessions,
              CAST(sum(n) AS BIGINT) AS n_routes
            FROM e GROUP BY 1"""),
      doc = "PROXY protocol v1/v2 re-attribution ahead of the BMP stream"),

    // bgp_table_dump_time_slots (CONFIG-KEYS): table dumps spread over
    // the refresh interval — the interval divides into S slots, each
    // node assigned by its address, and a node's table is dumped at
    // ITS slot instant, not all at once. Modeled over daily refresh
    // cycles with 4 slots: an update becomes visible at the first
    // cycle whose slot instant (for its peer's slot) is past the
    // update time; the per-(cycle, slot) dump sizes are the cumulative
    // counts — computed with one aggregation + a 120-row window, no
    // per-dump rescans.
    Q("q186_dump_slots",
      (s, d) => {
        val f = flows(s, d).select(
          (col("ip_src") % 32).as("peer"), col("t0u"))
          .withColumn("slot", col("peer") % 4)
        val tmin = f.agg(min("t0u")).head().getLong(0)
        val day = 86400000000L
        val slotLen = day / 4
        // first cycle c whose dump instant tmin+c*day+(slot+1)*slotLen
        // covers the update; clamped negatives collapse to 0 identically
        // under Spark's truncating div and DuckDB's flooring //
        val ev = f.withColumn("cmin", greatest(lit(0L),
            expr(s"(t0u - $tmin - (slot + 1) * $slotLen + $day - 1)" +
              s" div $day")))
          .filter(col("cmin") <= 29)
          .groupBy("slot", "cmin").agg(count(lit(1)).as("arrived"))
        val sp2 = s
        import sp2.implicits._
        val grid = (0L until 30L).flatMap(c => (0L until 4L).map(sl =>
          (c, sl))).toDF("cycle", "slot")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("slot").orderBy("cycle")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        grid.join(ev, grid("slot") === ev("slot") &&
            grid("cycle") === ev("cmin"), "left")
          .select(grid("cycle"), grid("slot"),
            coalesce(col("arrived"), lit(0L)).as("arrived"))
          .withColumn("dump_size", sum("arrived").over(w))
          .select("cycle", "slot", "dump_size")
      },
      Some(s"""$flowsSqlCte,
            f AS (SELECT ip_src % 32 AS peer, (ip_src % 32) % 4 AS slot,
                t0u FROM flows),
            tm AS (SELECT min(t0u) AS tmin FROM f),
            ev AS (SELECT slot,
                greatest(0, (t0u - tmin - (slot + 1) * 21600000000
                  + 86400000000 - 1) // 86400000000) AS cmin,
                count(*) AS arrived
              FROM f, tm
              GROUP BY 1, 2 HAVING cmin <= 29),
            grid AS (SELECT c.cycle, s.slot
              FROM unnest(generate_series(0, 29)) AS c(cycle),
                   unnest(generate_series(0, 3)) AS s(slot))
            SELECT cycle, grid.slot AS slot,
              CAST(sum(coalesce(arrived, 0)) OVER (PARTITION BY grid.slot
                ORDER BY cycle ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS dump_size
            FROM grid LEFT JOIN ev
              ON grid.slot = ev.slot AND grid.cycle = ev.cmin"""),
      doc = "bgp_table_dump_time_slots: per-slot staggered dump sizes"),

    // bgp_daemon_xconnect_map (CONFIG-KEYS; examples/
    // bgp_xconnects.map.example): BGP proxying — incoming sessions
    // cross-connect 1:1 to backend collectors, matched on the peer's
    // source ADDRESS (exact or prefix, not router id); unmatched
    // sessions are not proxied. The match is an LPM over the map's
    // bgp_src entries (/32 exacts + subnet rules through the same
    // plans/Lpm table the data path uses); per-collector session and
    // forwarded-message counts prove the 1:1 fan-in.
    Q("q188_bgp_xconnect",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        import graft.plans.Lpm
        // map: 8 exact /32 rules -> collector 10.0.0.1:17900+p,
        // one /24 rule -> 10.0.0.2:17910; 64 peer sessions (8 exact,
        // 24 via the /24, 32 unmatched)
        val xmap = new Lpm.Table(32,
          (0 until 8).map(p =>
            (0xC0A80000L + p, 32, p.toLong)) :+
          ((0xC0A80A00L, 24, 1000L)))
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("peer"), col("event_id"))
          .as[(Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (peer, run) =>
            val peerIp =
              if (peer < 8) 0xC0A80000L + peer
              else if (peer < 32) 0xC0A80A00L + (peer - 8)
              else 0xAC100000L + peer // no map entry
            val wire = run.map { case (_, eid) =>
              BgpMsg.encode(BgpMsg.Update(
                nlri = Seq(BgpMsg.Route(eid << 8, 24)), origin = Some(0),
                asPath = Seq(65000L + peer), nextHop = Some(peer)))
            }
            val n = SessionWalk.chunks(wire)
              .map(BgpMsg.decodeStream(_).size.toLong).sum
            xmap.lookup(peerIp) match {
              case Long.MinValue => Iterator((-1L, -1L, 1L, n))
              case v if v == 1000L =>
                Iterator((0x0A000002L, 17910L, 1L, n))
              case p => Iterator((0x0A000001L, 17900L + p, 1L, n))
            }
          }
        }
        decoded.toDF("dst_ip", "dst_port", "n_sess", "n_msgs")
          .groupBy("dst_ip", "dst_port")
          .agg(sum("n_sess").as("n_sessions"), sum("n_msgs").as("n_msgs"))
      },
      Some("""WITH e AS (SELECT user_id % 64 AS peer, count(*) AS n
              FROM events GROUP BY 1)
            SELECT CASE WHEN peer < 8 THEN 167772161
                WHEN peer < 32 THEN 167772162 ELSE -1 END AS dst_ip,
              CASE WHEN peer < 8 THEN 17900 + peer
                WHEN peer < 32 THEN 17910 ELSE -1 END AS dst_port,
              count(*) AS n_sessions,
              CAST(sum(n) AS BIGINT) AS n_msgs
            FROM e GROUP BY 1, 2"""),
      doc = "bgp_daemon_xconnect_map: LPM session cross-connect, 1:1 fan-in"),

    // bgp_neighbors_file (CONFIG-KEYS): the daemon writes its current
    // neighbor list — address, state, negotiated parameters — for
    // operators and scripts. The view is a session-FSM rollup: every
    // peer runs the RFC 4271 machine over its wire stream (OPEN
    // negotiation with min-hold, keepalives, updates, one cohort ends
    // in NOTIFICATION, one lets the hold timer expire), and the file
    // row is the end-state + delivered/drop counters per neighbor.
    Q("q195_bgp_neighbors",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.{BgpMsg, BgpFsm}
        val base = Tables.events(s, d).select(
          (col("user_id") % 64).as("peer"), col("event_id"))
        // the FSM cohorts split the session at n/2, so the handler needs
        // the session length BEFORE the stream arrives — a tiny per-peer
        // count broadcast onto the rows keeps the walk single-pass
        val counts = base.groupBy("peer").agg(count(lit(1)).as("n"))
        val rows = base.join(broadcast(counts), "peer")
          .select(col("peer"), col("event_id"), col("n"))
          .as[(Long, Long, Long)]
        val decoded = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (peer, run) =>
            val fsm = new BgpFsm(65500L, 0x7F000001L, holdTime = 90)
            fsm.start(0L)
            def feed(bytes: Array[Byte], t: Long): Unit =
              fsm.onMessage(BgpMsg.decodeMessage(
                java.nio.ByteBuffer.wrap(bytes)), t)
            feed(BgpMsg.encodeOpen(BgpMsg.Open(65000L + peer,
              (30 + peer).toInt, peer)), 1L)
            feed(BgpMsg.encodeKeepalive(), 2L)
            def upd(eid: Long, t: Long): Unit =
              feed(BgpMsg.encode(BgpMsg.Update(
                nlri = Seq(BgpMsg.Route(eid << 8, 24)),
                origin = Some(0), nextHop = Some(peer))), t)
            var i = 0L
            var k = Long.MaxValue
            run.foreach { case (_, eid, n) =>
              if (i == 0L) k = n / 2
              if (peer % 5 == 0) {        // NOTIFICATION mid-session
                if (i < k) upd(eid, 3L + i)
                else if (i == k) feed(BgpMsg.encodeNotification(6, 2),
                  3L + k)
              } else if (peer % 7 == 0) { // hold-timer expiry
                if (i < k) upd(eid, 3L + i)
                else if (i == k)
                  upd(eid, 3L + k + fsm.negotiatedHold + 10) // too late
              } else upd(eid, 3L + i)
              i += 1
            }
            val st = fsm.state.toString
            Iterator((peer, st,
              fsm.peerOpen.map(_.asn).getOrElse(65000L + peer),
              math.min(90, 30 + peer),
              fsm.delivered.size.toLong, fsm.sessionDrops.toLong))
          }
        }
        decoded.toDF("peer", "state", "peer_as", "hold",
          "n_delivered", "drops")
      },
      Some("""WITH e AS (SELECT user_id % 64 AS peer, count(*) AS n
              FROM events GROUP BY 1)
            SELECT peer,
              CASE WHEN peer % 5 = 0 OR peer % 7 = 0 THEN 'Idle'
                ELSE 'Established' END AS state,
              65000 + peer AS peer_as,
              least(90, 30 + peer) AS hold,
              CAST(CASE WHEN peer % 5 = 0 OR peer % 7 = 0 THEN n // 2
                ELSE n END AS BIGINT) AS n_delivered,
              CAST(CASE WHEN peer % 5 = 0 OR peer % 7 = 0 THEN 1
                ELSE 0 END AS BIGINT) AS drops
            FROM e"""),
      doc = "bgp_neighbors_file: per-neighbor FSM end-state + counters"),

    // Extended communities (RFC 4360; reference src/bgp/
    // bgp_ecommunity.c ecommunity_ecom2str splits the 6-byte value by
    // type: AS2:val4 / IPv4:val2 / AS4:val2) + the RFC 7999 BLACKHOLE
    // well-known community (65535:666 = 0xFFFF029A), which the
    // reference's bgp_blackhole.c thread matches to tag flows. Updates
    // carry an RT (subtype 0x02) and an SoO (0x03); the RIB keeps the
    // latest per prefix; flows join the broadcast RIB and roll up per
    // RT with a blackholed-bytes split.
    Q("q164_ecomm_blackhole",
      (s, d) => {
        val sp = s
        import sp.implicits._
        import graft.sources.BgpMsg
        val rows = Tables.events(s, d).select(
            (col("user_id") % 64).as("k"), col("event_id"),
            (col("event_id") % 3).as("tpe"),
            (col("event_id") % 8).as("adm"),
            (col("event_id") % 1000).as("v"),
            (col("event_type") === "error").as("bh"))
          .as[(Long, Long, Long, Long, Long, Boolean)]
        // the secondary-sort walk delivers each key's updates in seq
        // order, so the decoded RIB's last-write-wins entry falls out of
        // the pulled decode directly — no per-update rows, no max_by
        // shuffle, O(chunk) task memory
        val rib = SessionWalk.sessions(rows).mapPartitions { it =>
          SessionWalk.mapRuns(it)(_._1) { (k, run) =>
            val wire = run.map { case (_, _, tpe, adm, v, bh) =>
              val admin =
                if (tpe == 0) 65000L + adm else 167772160L + adm
              BgpMsg.encode(BgpMsg.Update(
                nlri = Seq(BgpMsg.Route(k << 24, 8)),
                origin = Some(0), nextHop = Some(k),
                communities =
                  if (bh) Seq(0xFFFF029AL) else Seq(65000L << 16 | 1L),
                extCommunities = Seq(
                  BgpMsg.ExtCommunity(tpe.toInt, 2, admin, v),
                  BgpMsg.ExtCommunity(0, 3, 64999L, 7L))))
            }
            var (lTpe, lAdm, lV, lBh) = (-1L, -1L, -1L, 0L)
            SessionWalk.chunks(wire).flatMap(BgpMsg.decodeStream(_))
              .filter(_.nlri.nonEmpty).foreach { u =>
                val rt = u.extCommunities.find(_.sub == 2)
                lTpe = rt.map(_.tpe.toLong).getOrElse(-1L)
                lAdm = rt.map(_.admin).getOrElse(-1L)
                lV = rt.map(_.value).getOrElse(-1L)
                lBh = if (u.communities.contains(0xFFFF029AL)) 1L else 0L
              }
            Iterator((k, lTpe, lAdm, lV, lBh))
          }
        }.toDF("k", "rt_type", "rt_admin", "rt_value", "last_bh")
        val fl = flows(s, d)
        fl.join(broadcast(rib), fl("ip_dst") % 64 === rib("k"))
          .groupBy("rt_type", "rt_admin", "rt_value")
          .agg(sum("bytes").as("bytes"),
            sum(when(col("last_bh") === 1L, col("bytes")).otherwise(0L))
              .as("blackholed"))
      },
      Some(s"""$flowsSqlCte,
            msgs AS (SELECT user_id % 64 AS k, event_id AS seq,
                event_id % 3 AS tpe,
                CASE WHEN event_id % 3 = 0 THEN 65000 + event_id % 8
                     ELSE 167772160 + event_id % 8 END AS adm,
                event_id % 1000 AS v,
                CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bh
              FROM events),
            rib AS (SELECT k, arg_max(tpe, seq) AS rt_type,
                arg_max(adm, seq) AS rt_admin,
                arg_max(v, seq) AS rt_value, arg_max(bh, seq) AS last_bh
              FROM msgs GROUP BY k)
            SELECT rt_type, rt_admin, rt_value,
              CAST(sum(bytes) AS BIGINT) AS bytes,
              CAST(sum(CASE WHEN last_bh = 1 THEN bytes ELSE 0 END)
                AS BIGINT) AS blackholed
            FROM flows JOIN rib ON ip_dst % 64 = k
            GROUP BY 1, 2, 3"""),
      doc = "RFC 4360 ext communities + RFC 7999 blackhole tagging")
  )
}
