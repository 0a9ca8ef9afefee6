package graft.functions

/** Data-driven L7 signature table — the nDPI-shaped widening of
  * [[L7.classifyPayload]] (reference delegates to the nDPI library's
  * per-protocol dissectors, `src/ndpi/ndpi.c`, registered in
  * `src/classifier.c:33`; this engine keeps the same first-match model
  * but expresses each dissector as DATA, not code).
  *
  * A rule is an ordered conjunction of byte predicates over the payload
  * head. The table is a plain Seq — serializable, broadcastable to
  * executors like PreTagMap rule tables, and extensible by users without
  * recompiling (construct Rules programmatically or parse them from a
  * config). First full match in table order wins; order resolves
  * ambiguity (e.g. `POST /dns-query` before plain HTTP).
  *
  * Heuristics that need arithmetic beyond byte equality (DNS flag
  * checks, QUIC version ranges) are named [[Pred.Heur]] predicates
  * resolved from a fixed registry — the table stays data, the predicate
  * vocabulary stays code.
  */
object SigRules {

  sealed trait Pred
  object Pred {
    /** ASCII bytes at a fixed offset. */
    final case class Ascii(s: String, off: Int = 0) extends Pred
    /** `(head(off) & mask) == value`. */
    final case class B(off: Int, value: Int, mask: Int = 0xff) extends Pred
    /** Minimum payload length. */
    final case class MinLen(n: Int) extends Pred
    /** Exact payload length. */
    final case class LenIs(n: Int) extends Pred
    /** Big-endian u16 at `off` equals total length minus `base`. */
    final case class U16SelfLen(off: Int, base: Int) extends Pred
    /** Named heuristic from [[heuristics]]. */
    final case class Heur(name: String) extends Pred
    /** Any of the alternatives matches (e.g. verb lists). */
    final case class AnyOf(alts: Seq[Seq[Pred]]) extends Pred
  }
  import Pred._

  /** One table row: protocol label + conjunction of predicates. */
  final case class Rule(proto: String, preds: Seq[Pred])

  /** The named-heuristic registry the table may reference. */
  val heuristics: Map[String, Array[Byte] => Boolean] = Map(
    "dns" -> L7.looksDns,
    "dnsTcp" -> (h => h.length >= 14 &&
      ((h(0) & 0xff) << 8 | (h(1) & 0xff)) == h.length - 2 &&
      L7.looksDns(java.util.Arrays.copyOfRange(h, 2, h.length))),
    "quic" -> L7.looksQuic,
    "netbios" -> L7.looksNbns,
    "ntp" -> L7.looksNtp,
    "snmp" -> L7.looksSnmp,
    "stun" -> L7.looksStun,
    "dhcp" -> L7.looksDhcp,
    "bittorrent" -> (h => h.length >= 11 && (h(0) & 0xff) == 19 &&
      "BitTorrent".indices.forall(i =>
        h(i + 1) == "BitTorrent".charAt(i).toByte)),
    // WebSocket upgrade: an HTTP GET whose visible head carries the
    // Upgrade header (canonical client casing; nDPI scans the same
    // header, case-folded with flow context we don't keep)
    "websocket" -> (h => h.length >= 4 && h(0) == 'G' && h(1) == 'E' &&
      h(2) == 'T' && h(3) == ' ' &&
      new String(h, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("Upgrade: websocket")),
    // X11 setup request: byte order 'l' (LE) or 'B' (BE), pad, then
    // protocol-major-version 11 in that byte order
    "x11" -> (h => h.length >= 12 && h(1) == 0 &&
      ((h(0) == 'l' && (h(2) & 0xff) == 11 && h(3) == 0) ||
       (h(0) == 'B' && h(2) == 0 && (h(3) & 0xff) == 11))),
    // PTPv2 (IEEE 1588): messageType 0..0xd, versionPTP 2, u16
    // messageLength spanning the whole payload (34-byte fixed header)
    "ptp" -> (h => h.length >= 34 && (h(0) & 0x0f) <= 0x0d &&
      (h(1) & 0x0f) == 2 &&
      ((h(2) & 0xff) << 8 | (h(3) & 0xff)) == h.length),
    // syslog priority tag: '<' digits '>' within the first 5 bytes
    "syslog" -> (h => h.length >= 3 && h(0) == '<' && {
      var i = 1
      while (i < math.min(5, h.length) && h(i) >= '0' && h(i) <= '9')
        i += 1
      i > 1 && i < h.length && h(i) == '>'
    }),
    // RADIUS: code, id, u16 length == packet length, 16-byte authenticator
    "radius" -> (h => h.length >= 20 &&
      Set(1, 2, 3, 4, 5, 11, 12, 13).contains(h(0) & 0xff) &&
      ((h(2) & 0xff) << 8 | (h(3) & 0xff)) == h.length),
    // MySQL server greeting: 3-byte LE length, seq 0, protocol version 10
    "mysql" -> (h => h.length >= 6 && (h(3) & 0xff) == 0 &&
      (h(4) & 0xff) == 10 &&
      ((h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16))
        == h.length - 4),
    // PostgreSQL StartupMessage 0x00030000 or SSLRequest 80877103
    "postgres" -> (h => h.length >= 8 && {
      def u32(i: Int): Long = ((h(i) & 0xffL) << 24) |
        ((h(i + 1) & 0xffL) << 16) | ((h(i + 2) & 0xffL) << 8) |
        (h(i + 3) & 0xffL)
      u32(0) == h.length && (u32(4) == 0x00030000L || u32(4) == 80877103L)
    }),
    // Kerberos AS-REQ/TGS-REQ: ASN.1 APPLICATION 10/12 wrapping a
    // SEQUENCE, bare (UDP) or behind the 4-byte TCP length prefix
    // (RFC 4120 §7.2) — the inner 0x30 keeps a lone 0x6a first byte
    // (e.g. a DNS transaction id) from matching
    "kerberos" -> (h => (h.length >= 3 &&
      ((h(0) & 0xff) == 0x6a || (h(0) & 0xff) == 0x6c) &&
      (h(1) & 0xff) == h.length - 2 && (h(2) & 0xff) == 0x30) ||
      (h.length >= 7 &&
        ((h(4) & 0xff) == 0x6a || (h(4) & 0xff) == 0x6c) &&
        (h(6) & 0xff) == 0x30 &&
        (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) == h.length - 4)),
    // LDAP: BER SEQUENCE, INTEGER messageID, then an APPLICATION tag
    // 0x60..0x78 (bind..extended) within the first bytes
    "ldap" -> (h => h.length >= 7 && (h(0) & 0xff) == 0x30 &&
      (h(2) & 0xff) == 0x02 && (h(3) & 0xff) >= 1 && (h(3) & 0xff) <= 4 && {
        val tagOff = 4 + (h(3) & 0xff)
        tagOff < h.length && (h(tagOff) & 0xff) >= 0x60 &&
          (h(tagOff) & 0xff) <= 0x78
      }),
    // NetFlow v5: version 5, count 1..30, datagram is exactly the
    // 24-byte header + 48 bytes per record (the self-length that makes
    // this a strong signature; sources/NetFlowV5.scala decodes it)
    "netflow5" -> (h => h.length >= 72 && h(0) == 0 &&
      (h(1) & 0xff) == 5 && {
        val c = ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        c >= 1 && c <= 30 && h.length == 24 + 48 * c
      }),
    // NetFlow v9: version 9, sane record count; flowsets are
    // self-describing so no datagram self-length exists (weaker — runs
    // after the self-length flow families)
    "netflow9" -> (h => h.length >= 24 && h(0) == 0 &&
      (h(1) & 0xff) == 9 && {
        val c = ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        c >= 1 && c <= 1024
      }),
    // IPFIX: version 10, u16 message length == datagram length
    "ipfix" -> (h => h.length >= 16 && h(0) == 0 &&
      (h(1) & 0xff) == 10 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length),
    // sFlow v5 (and the v2/v4 legacy forms): u32 version 2/4/5, then
    // u32 agent-address type 1 (IPv4) or 2 (IPv6)
    "sflow" -> (h => h.length >= 12 && h(0) == 0 && h(1) == 0 &&
      h(2) == 0 && ((h(3) & 0xff) == 2 || (h(3) & 0xff) == 4 ||
        (h(3) & 0xff) == 5) && h(4) == 0 && h(5) == 0 && h(6) == 0 &&
      ((h(7) & 0xff) == 1 || (h(7) & 0xff) == 2)),
    // BMP common header: version 3, u32 per-message length covering at
    // least the header and no more than the buffer, msg type 0..6
    "bmp" -> (h => h.length >= 6 && (h(0) & 0xff) == 3 && {
      val len = ((h(1) & 0xffL) << 24) | ((h(2) & 0xffL) << 16) |
        ((h(3) & 0xffL) << 8) | (h(4) & 0xffL)
      len >= 6L && len <= h.length && (h(5) & 0xff) <= 6
    }),
    // ZMTP 3.x greeting (ZeroMQ): 0xFF signature + 8 padding bytes +
    // 0x7F, then version-major 3 (sources/Zmtp.scala speaks this)
    "zeromq" -> (h => h.length >= 11 && (h(0) & 0xff) == 0xff &&
      (h(9) & 0xff) == 0x7f && (h(10) & 0xff) == 3),
    // ---- the r12 nDPI-residual tier (genuine wire shapes from the
    // upstream registry the 155-family table still lacked; the
    // SNI/port-only remainder is dispositioned in ROADMAP) ----
    // IAX2 full frame opening a call (RFC 5456 §8.1): F bit set,
    // dest call 0 (NEW has no peer call yet), zero oseq/iseq, frame
    // type 6 (IAX control), subclass 1 (NEW)
    "iax2" -> (h => h.length >= 12 && (h(0) & 0x80) != 0 &&
      h(2) == 0 && h(3) == 0 && h(8) == 0 && h(9) == 0 &&
      (h(10) & 0xff) == 6 && (h(11) & 0xff) == 1),
    // Cisco Skinny/SCCP: LE u32 length == packet-8, LE u32 header
    // version 0, LE u32 message id in the registered range
    "skinny" -> (h => h.length >= 12 && {
      def le32(i: Int): Long = (h(i) & 0xffL) |
        ((h(i + 1) & 0xffL) << 8) | ((h(i + 2) & 0xffL) << 16) |
        ((h(i + 3) & 0xffL) << 24)
      le32(0) == h.length - 8 && le32(4) == 0 && le32(8) < 0x200
    }),
    // XDMCP (X Display Manager Control Protocol): BE u16 version 1,
    // u16 opcode 1..14, u16 length == packet-6
    "xdmcp" -> (h => h.length >= 6 && (h(0) & 0xff) == 0 &&
      (h(1) & 0xff) == 1 && {
        val op = ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        val ln = ((h(4) & 0xff) << 8) | (h(5) & 0xff)
        op >= 1 && op <= 14 && ln == h.length - 6
      }),
    // DNSCrypt bootstrap: a DNS query for the provider TXT record —
    // the 2.dnscrypt-cert rendezvous name is the only cleartext the
    // protocol ever shows (in wire form dots split labels, so the
    // literal byte run is the lone "dnscrypt-cert" label)
    "dnscrypt" -> (h => h.length >= 20 && L7.looksDns(h) &&
      new String(h, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("dnscrypt-cert")),
    // eDonkey/eMule TCP hello: protocol byte 0xE3, LE u32 message
    // length == packet-5, opcode 0x01 (OP_HELLO)
    "edonkey" -> (h => h.length >= 6 && (h(0) & 0xff) == 0xe3 &&
      ((h(1) & 0xffL) | ((h(2) & 0xffL) << 8) | ((h(3) & 0xffL) << 16) |
        ((h(4) & 0xffL) << 24)) == h.length - 5 &&
      (h(5) & 0xff) == 0x01),
    // LISP control (RFC 6830 §6.1): type nibble 1..4 (map
    // request/reply/register/notify), record count 1..8, AND the
    // per-type reserved fields in bytes 1..2 (ADVICE r12: nibble+byte
    // ranges alone were a weak gate) — Map-Request keeps 9 reserved
    // bits zero (IRC's 5 bits are free), Map-Register zeroes all but
    // the M bit, Reply/Notify zero both bytes; the 8-byte nonce that
    // follows is covered by the length floor (12 header + nonce + EID)
    "lisp" -> (h => h.length >= 24 && {
      val t = (h(0) >> 4) & 0x0f
      val rec = h(3) & 0xff
      t >= 1 && t <= 4 && rec >= 1 && rec <= 8 && (t match {
        case 1 => (h(1) & 0x3f) == 0 && (h(2) & 0xe0) == 0
        case 3 => h(1) == 0 && (h(2) & 0xfe) == 0
        case _ => h(1) == 0 && h(2) == 0
      })
    }),
    // Telegram MTProto intermediate transport: the 4-byte 0xEE
    // handshake prefix (abridged's lone 0xEF is too weak to gate on)
    "mtproto" -> (h => h.length >= 8 && (h(0) & 0xff) == 0xee &&
      (h(1) & 0xff) == 0xee && (h(2) & 0xff) == 0xee &&
      (h(3) & 0xff) == 0xee),
    // tinc meta-protocol ID exchange: "0 <name> 17[.minor]\n" — the
    // first line every tinc connection sends (request 0 = ID,
    // protocol major 17)
    "tinc" -> (h => h.length >= 7 && h(0) == '0' && h(1) == ' ' && {
      val s = new String(h, java.nio.charset.StandardCharsets.ISO_8859_1)
      s.matches("(?s)^0 [A-Za-z0-9_.-]+ 17(\\.\\d+)?\n.*")
    }),
    // AYIYA (anything-in-anything, SixXS): idlen 4/idtype 1 (16-byte
    // identity), siglen 5/SHA-1, next header IPv6 or IPv4
    "ayiya" -> (h => h.length >= 44 && (h(0) & 0xff) == 0x41 &&
      (h(1) & 0xff) == 0x51 && (h(2) & 0xf0) == 0x10 &&
      ((h(3) & 0xff) == 41 || (h(3) & 0xff) == 4)),
    // Stratum mining: JSON-RPC line whose method lives in the
    // mining.* namespace (nDPI's "Mining" family)
    "stratum" -> (h => h.length >= 16 && h(0) == '{' &&
      new String(h, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("\"mining.")),
    // GENEVE (RFC 8926): version 0, the six reserved flag bits zero,
    // inner protocol Transparent-Ethernet/IPv4/IPv6
    "geneve" -> (h => h.length >= 8 && (h(0) & 0xc0) == 0 &&
      (h(1) & 0x3f) == 0 && {
        val pt = ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        pt == 0x6558 || pt == 0x0800 || pt == 0x86dd
      }),
    // mDNS: DNS query shape whose FIRST question ends in the "local"
    // label (RFC 6762 §3) — the only payload-level discriminator from
    // unicast DNS (nDPI additionally keys on port 5353)
    "mdns" -> (h => L7.looksDns(h) && {
      var i = 12
      var last = ""
      var ok = true
      while (ok && i < h.length && h(i) != 0) {
        val l = h(i) & 0xff
        if (l > 63 || i + 1 + l > h.length) ok = false
        else {
          last = new String(h, i + 1, l,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          i += 1 + l
        }
      }
      ok && i < h.length && last == "local"
    }),
    // WireGuard: message type 1..4, 3 reserved zero bytes, initiation=148
    // WireGuard: reserved bytes zero + the FIXED frame length of each
    // message type (init 148, response 92, cookie 64; data = 16-byte
    // header + AEAD payload) — the length pins are what keep other
    // small-type/zero-reserved UDP frames (e.g. PCP) out
    "wireguard" -> (h => h.length >= 32 && (h(0) & 0xff) >= 1 &&
      (h(0) & 0xff) <= 4 && h(1) == 0 && h(2) == 0 && h(3) == 0 &&
      ((h(0) & 0xff) match {
        case 1 => h.length == 148
        case 2 => h.length == 92
        case 3 => h.length == 64
        case _ => h.length % 16 == 0
      })),
    // MQTT 3.1.1 CONNECT: packet type 0x10, protocol name "MQTT"
    // (len 4) after the 1-byte remaining-length varint, protocol
    // level 4 (level 5 is the v5 family below — with name "MQTT" the
    // only levels ever issued are 4 and 5; 3.1's name was "MQIsdp")
    "mqtt" -> (h => h.length >= 9 && (h(0) & 0xff) == 0x10 &&
      (h(2) & 0xff) == 0 && (h(3) & 0xff) == 4 &&
      h(4) == 'M' && h(5) == 'Q' && h(6) == 'T' && h(7) == 'T' &&
      (h(8) & 0xff) == 4),
    // MQTT v5 CONNECT (MQTT 5.0 §3.1): protocol level 5 plus a VALID
    // properties block — the varint properties length (§3.1.2.11) must
    // decode and fit inside the payload; v3.1.1 has no properties
    // field at all, so this cannot shadow it. Connect-flags reserved
    // bit (bit 0) must be 0 per §3.1.2.3.
    "mqtt5" -> (h => h.length >= 13 && (h(0) & 0xff) == 0x10 &&
      (h(2) & 0xff) == 0 && (h(3) & 0xff) == 4 &&
      h(4) == 'M' && h(5) == 'Q' && h(6) == 'T' && h(7) == 'T' &&
      (h(8) & 0xff) == 5 && (h(9) & 0x01) == 0 && {
        // properties length varint at offset 12 (flags 9, keepalive
        // 10..11); ≤ 4 varint bytes, must land inside the payload
        var i = 12; var len = 0; var shift = 0; var done = false
        while (!done && i < h.length && shift <= 21) {
          val b = h(i) & 0xff
          len |= (b & 0x7f) << shift; shift += 7; i += 1
          if ((b & 0x80) == 0) done = true
        }
        done && i + len <= h.length
      }),
    // CAPWAP (RFC 5415 §4): preamble version 0 type 0, then the 32-bit
    // header word — HLEN (5 bits, 4-byte words) covering at least the
    // 8-byte fixed header and fitting the payload, WBID 0/1
    // (reserved/IEEE 802.11), the 3 reserved flag bits zero; or
    // preamble type 1 (CAPWAP-DTLS): a DTLS handshake record follows
    // the one-byte preamble
    "capwap" -> (h => h.length >= 8 && {
      if ((h(0) & 0xff) == 0) {
        val hlen = (h(1) >> 3) & 0x1f
        val wbid = (h(2) >> 1) & 0x1f
        hlen >= 2 && hlen * 4 <= h.length && wbid <= 1 &&
          (h(3) & 0x07) == 0
      } else (h(0) & 0xff) == 1 && (h(1) & 0xff) == 0x16 &&
        (h(2) & 0xff) == 0xfe &&
        ((h(3) & 0xff) == 0xff || (h(3) & 0xff) == 0xfd)
    }),
    // WS-Discovery (SOAP-over-UDP 3702): an XML declaration whose
    // visible head names one of the two WS-Discovery namespaces; must
    // precede the generic "<?xml" → xmpp fallback in the table
    "wsd" -> (h => h.length >= 5 && h(0) == '<' && h(1) == '?' &&
      h(2) == 'x' && h(3) == 'm' && h(4) == 'l' && {
        val s = new String(h,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        s.contains("schemas.xmlsoap.org/ws/2005/04/discovery") ||
        s.contains("docs.oasis-open.org/ws-dd/ns/discovery")
      }),
    // collectd binary protocol: a chain of (type u16, len u16) parts
    // that tiles the payload EXACTLY, starting with part type 0x0000
    // (host) — len includes the 4-byte part header; known part types
    // stop at 0x0210 (encrypted). The full-tiling walk is the
    // discriminator: no other family's frames tile this way.
    "collectd" -> (h => h.length >= 9 && h(0) == 0 && h(1) == 0 && {
      var i = 0
      var parts = 0
      var ok = true
      while (ok && i < h.length) {
        if (i + 4 > h.length) ok = false
        else {
          val t = ((h(i) & 0xff) << 8) | (h(i + 1) & 0xff)
          val l = ((h(i + 2) & 0xff) << 8) | (h(i + 3) & 0xff)
          if (l < 5 || i + l > h.length || t > 0x0210) ok = false
          else { parts += 1; i += l }
        }
      }
      ok && i == h.length && parts >= 2
    }),
    // SMB over NetBIOS session: 0x00 + 3-byte length + (0xFF|0xFE)"SMB"
    "smb" -> (h => h.length >= 8 && h(0) == 0 &&
      ((h(4) & 0xff) == 0xff || (h(4) & 0xff) == 0xfe) &&
      h(5) == 'S' && h(6) == 'M' && h(7) == 'B'),
    // TFTP RRQ/WRQ (RFC 1350 §5): u16 opcode 1..2, printable filename,
    // NUL, then one of the three defined mode strings, NUL, end — the
    // full frame grammar, not just the opcode (a loose h(2)!=0 check
    // also matched HSRP coup frames)
    "tftp" -> (h => h.length >= 6 && h(0) == 0 &&
      ((h(1) & 0xff) == 1 || (h(1) & 0xff) == 2) && {
        val nul = h.indexWhere(_ == 0, 2)
        nul > 2 && (2 until nul).forall(i =>
          (h(i) & 0xff) >= 0x20 && (h(i) & 0xff) <= 0x7e) &&
        h.length > nul + 2 && h(h.length - 1) == 0 && {
          val mode = new String(h, nul + 1, h.length - nul - 2,
            java.nio.charset.StandardCharsets.US_ASCII).toLowerCase
          mode == "netascii" || mode == "octet" || mode == "mail"
        }
      }),
    // OpenVPN: P_CONTROL_HARD_RESET_CLIENT_V2 (opcode 7<<3, key id 0) +
    // 8-byte session id + empty ack-packet-id array on the first packet
    "openvpn" -> (h => h.length >= 14 && (h(0) & 0xff) == 0x38 &&
      (h(9) & 0xff) == 0),
    // Telnet: IAC negotiation (0xFF WILL/WONT/DO/DONT opt)
    "telnet" -> (h => h.length >= 3 && (h(0) & 0xff) == 0xff &&
      (h(1) & 0xff) >= 0xfb && (h(1) & 0xff) <= 0xfe),
    // BGP: 16-byte all-ones marker, u16 length == packet, type 1..4
    "bgp" -> (h => h.length >= 19 &&
      (0 until 16).forall(i => (h(i) & 0xff) == 0xff) &&
      (((h(16) & 0xff) << 8) | (h(17) & 0xff)) == h.length &&
      (h(18) & 0xff) >= 1 && (h(18) & 0xff) <= 4),
    // DNP3 link layer: 0x05 0x64 start octets, length >= 5
    "dnp3" -> (h => h.length >= 10 && (h(0) & 0xff) == 0x05 &&
      (h(1) & 0xff) == 0x64 && (h(2) & 0xff) >= 5),
    // Modbus/TCP MBAP: protocol id 0, u16 length == remaining bytes,
    // function code 1..127
    "modbus" -> (h => h.length >= 8 && h(2) == 0 && h(3) == 0 &&
      (((h(4) & 0xff) << 8) | (h(5) & 0xff)) == h.length - 6 &&
      (h(7) & 0xff) >= 1 && (h(7) & 0xff) <= 127),
    // IKEv1/v2 (ISAKMP): version 0x10/0x20 at offset 17, exchange type
    // set, u32 length at 24 == packet length (RFC 7296 §3.1)
    "ike" -> (h => h.length >= 28 &&
      ((h(17) & 0xff) == 0x10 || (h(17) & 0xff) == 0x20) &&
      (((h(24) & 0xffL) << 24) | ((h(25) & 0xffL) << 16) |
        ((h(26) & 0xffL) << 8) | (h(27) & 0xffL)) == h.length),
    // RTCP SR/RR/SDES/BYE/APP: V=2 (10xx xxxx), packet type 200..204,
    // u16 length-in-words consistent with the packet
    "rtcp" -> (h => h.length >= 8 && (h(0) & 0xc0) == 0x80 &&
      (h(1) & 0xff) >= 200 && (h(1) & 0xff) <= 204 &&
      ((((h(2) & 0xff) << 8) | (h(3) & 0xff)) + 1) * 4 == h.length),
    // RTCP compound datagram (RFC 3550 §6.1): subpacket lengths tile
    // the datagram EXACTLY, every subpacket V=2 with PT 200..207, the
    // first is SR/RR, and an SDES is present — the well-formedness
    // rules §6.1 states for compound packets
    "rtcp_compound" -> (h => {
      var off = 0; var n = 0; var ok = h.length >= 8
      var first = -1; var sdes = false
      while (ok && off + 4 <= h.length) {
        if ((h(off) & 0xc0) != 0x80) ok = false
        else {
          val pt = h(off + 1) & 0xff
          val len = ((((h(off + 2) & 0xff) << 8) |
            (h(off + 3) & 0xff)) + 1) * 4
          if (pt < 200 || pt > 207) ok = false
          else {
            if (n == 0) first = pt
            if (pt == 202) sdes = true
            off += len; n += 1
          }
        }
      }
      ok && off == h.length && n >= 2 &&
        (first == 200 || first == 201) && sdes
    }),
    // L2TP control: T+L bits set, version 2, u16 length == packet
    "l2tp" -> (h => h.length >= 12 && (h(0) & 0xcb) == 0xc8 &&
      (h(1) & 0x0f) == 2 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length),
    // TACACS+: major version 0xc, type 1..3, u32 body length at 8
    "tacacs" -> (h => h.length >= 12 &&
      ((h(0) & 0xff) == 0xc0 || (h(0) & 0xff) == 0xc1) &&
      (h(1) & 0xff) >= 1 && (h(1) & 0xff) <= 3 &&
      (((h(8) & 0xffL) << 24) | ((h(9) & 0xffL) << 16) |
        ((h(10) & 0xffL) << 8) | (h(11) & 0xffL)) == h.length - 12),
    // SOCKS5 greeting: version 5, nmethods >= 1, len == 2 + nmethods
    "socks5" -> (h => h.length >= 3 && (h(0) & 0xff) == 5 &&
      (h(1) & 0xff) >= 1 && h.length == 2 + (h(1) & 0xff)),
    // CoAP: version 1 (01xx xxxx), TKL <= 8, code class 0/2/4/5
    "coap" -> (h => h.length >= 4 && (h(0) & 0xc0) == 0x40 &&
      (h(0) & 0x0f) <= 8 &&
      Set(0, 2, 4, 5).contains((h(1) & 0xff) >> 5)),
    // RTP: V=2 with no padding and zero CSRC (first byte 0x80/0x90 —
    // the common wire shapes), PT in the static-audio/video or dynamic
    // ranges (NOT 200..204 = RTCP), 12-byte fixed header present
    "rtp" -> (h => h.length >= 12 &&
      ((h(0) & 0xff) == 0x80 || (h(0) & 0xff) == 0x90) && {
        val pt = h(1) & 0x7f
        pt <= 34 || (pt >= 96 && pt <= 127)
      }),
    // Diameter (RFC 6733): version 1, u24 length == packet, reserved
    // command-flag bits zero. MUST sit before radius in the table:
    // both carry a self-length at bytes 2..3 when len < 64 KiB, and
    // RADIUS code 1 == the Diameter version byte — the >=24 floor plus
    // reserved-bits check is the (heuristic) tiebreak, same ambiguity
    // nDPI resolves by port context.
    "diameter" -> (h => h.length >= 24 && (h(0) & 0xff) == 1 &&
      (((h(1) & 0xff) << 16) | ((h(2) & 0xff) << 8) |
        (h(3) & 0xff)) == h.length && (h(4) & 0x0f) == 0),
    // OSPFv2: version 2, type 1..5, u16 packet length, AuType 0..2
    // (RFC 2328 A.3.1). Also before radius (shared self-length shape).
    "ospf" -> (h => h.length >= 24 && (h(0) & 0xff) == 2 &&
      (h(1) & 0xff) >= 1 && (h(1) & 0xff) <= 5 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length &&
      (((h(14) & 0xff) << 8) | (h(15) & 0xff)) <= 2),
    // RIPv1/v2 (RFC 2453 §4): command 1..2, version 1..2, zero pad,
    // body = whole 20-byte route entries
    "rip" -> (h => h.length >= 24 && (h(0) & 0xff) >= 1 &&
      (h(0) & 0xff) <= 2 && (h(1) & 0xff) >= 1 && (h(1) & 0xff) <= 2 &&
      h(2) == 0 && h(3) == 0 && (h.length - 4) % 20 == 0),
    // GTPv1: version 1 + protocol-type GTP (top nibble 0x3), u16
    // length == packet minus the 8-byte mandatory header
    "gtp" -> (h => h.length >= 12 && (h(0) & 0xf0) == 0x30 &&
      (h(1) & 0xff) != 0 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length - 8),
    // DCE/RPC CO (C706 12.6): rpc_vers 5, minor 0..1, ptype 0..19,
    // LITTLE-endian frag_length == packet (drep is LE on the wire)
    "dcerpc" -> (h => h.length >= 16 && (h(0) & 0xff) == 5 &&
      (h(1) & 0xff) <= 1 && (h(2) & 0xff) <= 19 &&
      (((h(9) & 0xff) << 8) | (h(8) & 0xff)) == h.length),
    // MongoDB wire: LE msgLength == packet, opcode OP_MSG 2013 /
    // OP_QUERY 2004 / OP_REPLY 1 at LE offset 12
    "mongodb" -> (h => h.length >= 16 && {
      def le32(i: Int): Long = (h(i) & 0xffL) |
        ((h(i + 1) & 0xffL) << 8) | ((h(i + 2) & 0xffL) << 16) |
        ((h(i + 3) & 0xffL) << 24)
      le32(0) == h.length &&
        Set(1L, 2004L, 2013L).contains(le32(12))
    }),
    // Cassandra CQL v4+: request version byte 0x04/0x05, flags 0,
    // STARTUP/OPTIONS opcode, u32 body length == packet minus header
    "cassandra" -> (h => h.length >= 9 &&
      ((h(0) & 0xff) == 4 || (h(0) & 0xff) == 5) && h(1) == 0 &&
      ((h(4) & 0xff) == 1 || (h(4) & 0xff) == 5) &&
      (((h(5) & 0xffL) << 24) | ((h(6) & 0xffL) << 16) |
        ((h(7) & 0xffL) << 8) | (h(8) & 0xffL)) == h.length - 9),
    // Kafka request: u32 size == packet-4, small api_key/api_version
    // (the Produce-v9 framing proven byte-level by q203)
    "kafka" -> (h => h.length >= 12 &&
      (((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)) == h.length - 4 &&
      (((h(4) & 0xff) << 8) | (h(5) & 0xff)) <= 67 &&
      (((h(6) & 0xff) << 8) | (h(7) & 0xff)) <= 15),
    // SMPP bind/enquire: u32 command_length == packet, request
    // command_id in {bind_rx, bind_tx, bind_trx, enquire_link},
    // status 0 on requests
    "smpp" -> (h => h.length >= 16 && {
      def be32(i: Int): Long = ((h(i) & 0xffL) << 24) |
        ((h(i + 1) & 0xffL) << 16) | ((h(i + 2) & 0xffL) << 8) |
        (h(i + 3) & 0xffL)
      be32(0) == h.length &&
        Set(1L, 2L, 9L, 0x15L).contains(be32(4)) && be32(8) == 0
    }),
    // OpenFlow HELLO: version 1..6, type 0, u16 length == packet.
    // After diameter/radius in the table: a RADIUS packet whose id
    // byte is 0 shares the (version, 0, self-length) shape.
    "openflow" -> (h => h.length >= 8 && (h(0) & 0xff) >= 1 &&
      (h(0) & 0xff) <= 6 && h(1) == 0 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length),
    // BFD control (RFC 5880 §4.1): version 1 (top 3 bits 001),
    // detect-mult >= 1, length byte == packet, 24-byte minimum
    "bfd" -> (h => h.length >= 24 && (h(0) & 0xe0) == 0x20 &&
      (h(2) & 0xff) >= 1 && (h(3) & 0xff) == h.length),
    // IEC-104 u8 APDU self-length (start byte 0x68 checked as data)
    "iec104len" -> (h => h.length >= 2 && (h(1) & 0xff) == h.length - 2),
    // TURN (RFC 8656): a ChannelData frame (channel 0x4000..0x7FFF +
    // u16 self-length) or a STUN message whose de-interleaved METHOD
    // (RFC 5389 §6 bit layout) is TURN-specific — Allocate(3)/
    // Refresh(4)/Send(6)/Data(7)/CreatePermission(8)/ChannelBind(9)
    "turn" -> (h =>
      (h.length >= 8 && (h(0) & 0xc0) == 0x40 &&
        (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length - 4) ||
      (L7.looksStun(h) && {
        val t = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
        val m = ((t & 0x3e00) >> 2) | ((t & 0x00e0) >> 1) | (t & 0x000f)
        m >= 3 && m <= 9 && m != 5
      })),
    // Teredo (RFC 4380 §5.1): clear IPv6-in-UDP — the raw inner packet
    // (version 6, u16 payload length spanning the remainder) or an
    // origin indication (0x0000 + obfuscated port/address) before it
    "teredo" -> (h => {
      def ip6At(o: Int): Boolean = h.length >= o + 40 &&
        (h(o) & 0xf0) == 0x60 &&
        (((h(o + 4) & 0xff) << 8) | (h(o + 5) & 0xff)) ==
          h.length - o - 40
      ip6At(0) || (h.length >= 48 && h(0) == 0 && h(1) == 0 && ip6At(8))
    }),
    // NAT-PMP (RFC 6886): version 0 + opcode with that opcode's fixed
    // frame length (req 0→2, 1/2→12; resp 128→12, 129/130→16)
    "natpmp" -> (h => h.length >= 2 && h(0) == 0 && {
      val op = h(1) & 0xff
      (op == 0 && h.length == 2) ||
        ((op == 1 || op == 2) && h.length == 12) ||
        (op == 128 && h.length == 12) ||
        ((op == 129 || op == 130) && h.length == 16)
    }),
    // PCP (RFC 6887 §7.1): version 2, ANNOUNCE/MAP/PEER opcode, 24-byte
    // header floor, length a multiple of 4, reserved byte zero
    "pcp" -> (h => h.length >= 24 && h.length % 4 == 0 &&
      (h(0) & 0xff) == 2 && (h(1) & 0x7f) <= 2 && h(2) == 0),
    // DHCPv6 (RFC 8415 §8): msg-type 1..13, 3-byte txn id, then an
    // option chain (u16 code 1..143, u16 len) consuming the payload
    // EXACTLY — the structural walk is the discriminator
    "dhcpv6" -> (h => h.length >= 8 && (h(0) & 0xff) >= 1 &&
      (h(0) & 0xff) <= 13 && {
        var o = 4
        var n = 0
        var ok = true
        while (ok && o + 4 <= h.length) {
          val code = ((h(o) & 0xff) << 8) | (h(o + 1) & 0xff)
          val len = ((h(o + 2) & 0xff) << 8) | (h(o + 3) & 0xff)
          if (code < 1 || code > 143) ok = false
          else { o += 4 + len; n += 1 }
        }
        ok && n >= 1 && o == h.length
      }),
    // Babel (RFC 8966 §4.2): magic 42, version 2, u16 body length
    // spanning the rest of the datagram
    "babel" -> (h => h.length >= 4 && (h(0) & 0xff) == 42 &&
      (h(1) & 0xff) == 2 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length - 4),
    // PPTP data: enhanced GRE (RFC 2637 §4.1) — K bit set (S/A
    // optional), version 1, protocol type 0x880B (PPP)
    "pptp_gre" -> (h => h.length >= 8 && (h(0) & 0xef) == 0x20 &&
      (h(1) & 0x7f) == 0x01 && (h(2) & 0xff) == 0x88 &&
      (h(3) & 0xff) == 0x0b),
    // HSRP v0 (RFC 2281 §5.1): 20-byte frame, version 0, opcode ≤ 2,
    // a defined state value, reserved byte zero
    "hsrp" -> (h => h.length == 20 && h(0) == 0 && (h(1) & 0xff) <= 2 &&
      Set(0, 1, 2, 4, 8, 16).contains(h(2) & 0xff) && h(7) == 0),
    // GTPv2-C (3GPP TS 29.274 §5.1): version 2 in the top 3 bits,
    // spare flag bits zero, nonzero message type, u16 length spanning
    // everything after the 4-byte mandatory header
    "gtpv2" -> (h => h.length >= 8 && (h(0) & 0xe0) == 0x40 &&
      (h(0) & 0x07) == 0 && (h(1) & 0xff) != 0 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length - 4),
    // SRT handshake (public Haivision spec §3.2.1): control packet
    // (F bit set) of control type 0, followed by the handshake CIF
    // whose version field is 4 or 5
    "srt" -> (h => h.length >= 40 && (h(0) & 0xff) == 0x80 &&
      (h(1) & 0xff) == 0 && h(2) == 0 && h(3) == 0 && {
        val ver = ((h(16) & 0xffL) << 24) | ((h(17) & 0xffL) << 16) |
          ((h(18) & 0xffL) << 8) | (h(19) & 0xffL)
        ver == 4L || ver == 5L
      }),
    // RTCP XR (RFC 3611): V=2, PT=207, RTCP self-length, first report
    // block type 1..7 whose own u16 block length fits the packet
    "rtcp_xr" -> (h => h.length >= 16 && (h(0) & 0xc0) == 0x80 &&
      (h(1) & 0xff) == 207 &&
      ((((h(2) & 0xff) << 8) | (h(3) & 0xff)) + 1) * 4 == h.length && {
        val bt = h(8) & 0xff
        val bl = ((h(10) & 0xff) << 8) | (h(11) & 0xff)
        bt >= 1 && bt <= 7 && 12 + bl * 4 <= h.length
      }),
    // QUIC Retry (RFC 9000 §17.2.5): long header type 3, known
    // version, valid CID lengths, >=1 token byte, 16-byte integrity tag
    "quic_retry" -> (h => h.length >= 24 && (h(0) & 0xf0) == 0xf0 && {
      val v = ((h(1) & 0xffL) << 24) | ((h(2) & 0xffL) << 16) |
        ((h(3) & 0xffL) << 8) | (h(4) & 0xffL)
      (v == 1L || v == 0x6b3343cfL ||
        (v & 0xffffff00L) == 0xff000000L) && {
        val dl = h(5) & 0xff
        dl <= 20 && h.length >= 7 + dl && {
          val sl = h(6 + dl) & 0xff
          sl <= 20 && h.length >= 7 + dl + sl + 17
        }
      }
    }),
    // S7comm (ISO-on-TCP industrial): TPKT v3 self-length, COTP DT
    // (li 2, 0xF0, EOT), S7 protocol id 0x32, ROSCTR job/ack/
    // ack-data/userdata
    "s7comm" -> (h => h.length >= 17 && (h(0) & 0xff) == 3 &&
      h(1) == 0 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length &&
      (h(4) & 0xff) == 2 && (h(5) & 0xff) == 0xf0 &&
      (h(6) & 0xff) == 0x80 && (h(7) & 0xff) == 0x32 &&
      Set(1, 2, 3, 7).contains(h(8) & 0xff)),
    // EtherNet/IP encapsulation: LE command from the defined set,
    // LE length == payload - 24-byte header, status 0
    "enip" -> (h => h.length >= 24 && {
      val cmd = (h(0) & 0xff) | ((h(1) & 0xff) << 8)
      val len = (h(2) & 0xff) | ((h(3) & 0xff) << 8)
      val status = (h(8) & 0xff) | ((h(9) & 0xff) << 8) |
        ((h(10) & 0xff) << 16) | ((h(11) & 0xff) << 24)
      Set(0x01, 0x04, 0x63, 0x64, 0x65, 0x66, 0x6f, 0x70, 0x72)
        .contains(cmd) && len == h.length - 24 && status == 0
    }),
    // Oracle TNS CONNECT: u16 BE packet length == payload, packet
    // checksum 0, type 1, TNS version >= 0x134 opening the data
    "tns" -> (h => h.length >= 16 &&
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)) == h.length &&
      h(2) == 0 && h(3) == 0 && (h(4) & 0xff) == 1 &&
      (((h(8) & 0xff) << 8) | (h(9) & 0xff)) >= 0x134),
    // VRRP v2/v3 (RFC 3768/5798 §5.1): type 1 (advertisement), VRID
    // nonzero, count nonzero, exact v4-address tiling; v2 pins the
    // auth type to the defined 0..2, v3 the reserved rsvd bits to 0
    "vrrp" -> (h => h.length >= 8 && (h(0) & 0x0f) == 1 && {
      val ver = (h(0) >> 4) & 0x0f
      val count = h(3) & 0xff
      (h(1) & 0xff) >= 1 && count >= 1 && h.length == 8 + 4 * count &&
        (if (ver == 2) (h(4) & 0xff) <= 2
         else ver == 3 && (h(4) & 0xf0) == 0)
    }),
    // Thrift strict binary (THRIFT-110 versioned wire): 0x8001,
    // message type 1..4, sane i32 length + printable method name;
    // framed variant = i32 frame length then the same
    "thrift" -> { h =>
      def strict(o: Int): Boolean =
        h.length >= o + 8 && (h(o) & 0xff) == 0x80 &&
          (h(o + 1) & 0xff) == 0x01 && (h(o + 2) & 0xff) == 0 &&
          (h(o + 3) & 0xff) >= 1 && (h(o + 3) & 0xff) <= 4 && {
            val nl = ((h(o + 4) & 0xff) << 24) |
              ((h(o + 5) & 0xff) << 16) |
              ((h(o + 6) & 0xff) << 8) | (h(o + 7) & 0xff)
            nl >= 1 && nl <= 128 && h.length >= o + 8 + nl &&
              (0 until nl).forall { i =>
                val c = h(o + 8 + i) & 0xff; c >= 0x21 && c <= 0x7e
              }
          }
      strict(0) || (h.length >= 12 && {
        val fl = ((h(0) & 0xff) << 24) | ((h(1) & 0xff) << 16) |
          ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        fl == h.length - 4 && strict(4)
      })
    },
    // Minecraft handshake (public protocol doc): varint frame length
    // tiling the payload exactly, packet id 0, varint protocol
    // version, printable varint-prefixed hostname, u16 port, next
    // state 1 (status) or 2 (login) closing the frame
    "minecraft" -> { h =>
      def varint(i0: Int): (Int, Int) = {
        var i = i0; var v = 0; var sh = 0
        while (i < h.length && sh <= 28) {
          val b = h(i) & 0xff
          v |= (b & 0x7f) << sh; sh += 7; i += 1
          if ((b & 0x80) == 0) return (v, i)
        }
        (-1, i)
      }
      h.length >= 10 && {
        val (flen, i1) = varint(0)
        flen >= 7 && i1 + flen == h.length && h(i1) == 0 && {
          val (pv, i2) = varint(i1 + 1)
          pv >= 4 && pv < 4096 && {
            val (hl, i3) = varint(i2)
            hl >= 1 && hl <= 255 && i3 + hl + 3 == h.length &&
              (0 until hl).forall { k =>
                val c = h(i3 + k) & 0xff; c >= 0x21 && c <= 0x7e
              } && {
                val ns = h(h.length - 1) & 0xff
                ns == 1 || ns == 2
              }
          }
        }
      }
    },
    // SSRP (MS-SQLR §2.2.2) CLNT_UCAST_INST: 0x04 + printable
    // instance name, 1..255 bytes total
    "ssrp" -> (h => h.length >= 2 && h.length <= 256 &&
      (h(0) & 0xff) == 4 &&
      (1 until h.length).forall { i =>
        val c = h(i) & 0xff; c >= 0x20 && c <= 0x7e
      }),
    // IBM MQ TSH: eyecatcher, u32 segment length == payload in the
    // declared byte order (1 big / 2 little), segment type 1..0x10
    "ibmmq" -> (h => h.length >= 12 && h(0) == 'T' && h(1) == 'S' &&
      h(2) == 'H' && h(3) == ' ' && {
        val bo = h(8) & 0xff
        val len =
          if (bo == 2)
            (h(4) & 0xff) | ((h(5) & 0xff) << 8) |
              ((h(6) & 0xff) << 16) | ((h(7) & 0xff) << 24)
          else
            ((h(4) & 0xff) << 24) | ((h(5) & 0xff) << 16) |
              ((h(6) & 0xff) << 8) | (h(7) & 0xff)
        (bo == 1 || bo == 2) && len == h.length &&
          (h(9) & 0xff) >= 1 && (h(9) & 0xff) <= 0x10
      }),
    // LLDP (IEEE 802.1AB §8): the mandatory TLV opening — Chassis ID
    // (1), Port ID (2), TTL (3) in order; 7-bit type + 9-bit length,
    // with the spec's per-TLV length bounds enforced (§8.5.2/3: ID
    // strings are 1..255 octets + 1 subtype → TLV length 2..256;
    // §8.5.4: TTL length is EXACTLY 2). The bounds are what keep a
    // long payload whose first byte happens to read "type 1, len>=256"
    // (e.g. an RTMP version-3 handshake) out of this walk.
    "lldp" -> { h =>
      var i = 0
      var idx = 0
      var ok = h.length >= 8
      val want = Array(1, 2, 3)
      val lMin = Array(2, 2, 2)
      val lMax = Array(256, 256, 2)
      while (ok && idx < 3) {
        if (i + 2 > h.length) ok = false
        else {
          val t = (h(i) >> 1) & 0x7f
          val l = ((h(i) & 1) << 8) | (h(i + 1) & 0xff)
          if (t != want(idx) || l < lMin(idx) || l > lMax(idx) ||
              i + 2 + l > h.length)
            ok = false
          else { i += 2 + l; idx += 1 }
        }
      }
      ok
    },
    // Erlang epmd PORT_PLEASE2_REQ: u16 BE length == payload-2,
    // opcode 'z' (122), printable node name
    "epmd" -> (h => h.length >= 5 &&
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)) == h.length - 2 &&
      (h(2) & 0xff) == 122 &&
      (3 until h.length).forall { i =>
        val c = h(i) & 0xff; c >= 0x21 && c <= 0x7e
      }),
    // Wake-on-LAN magic packet: 6×0xFF then 16 repetitions of the MAC
    "wol" -> (h => h.length >= 102 &&
      (0 until 6).forall(i => (h(i) & 0xff) == 0xff) &&
      (1 until 16).forall(r =>
        (0 until 6).forall(i => h(6 + r * 6 + i) == h(6 + i)))),
    // FIX (Financial Information eXchange): BeginString tag, SOH,
    // then the BodyLength tag 9= — the mandated first two fields
    "fix" -> (h => h.length >= 12 && h(0) == '8' && h(1) == '=' &&
      h(2) == 'F' && h(3) == 'I' && h(4) == 'X' && {
        val soh = h.indexWhere(_ == 1, 5)
        soh > 5 && soh + 2 < h.length && h(soh + 1) == '9' &&
          h(soh + 2) == '='
      }),
    // 9P2000 Tversion: u32 LE size == payload, type 100, NOTAG,
    // version string counted-prefixed and opening "9P"
    "ninep" -> (h => h.length >= 19 && {
      val size = (h(0) & 0xffL) | ((h(1) & 0xffL) << 8) |
        ((h(2) & 0xffL) << 16) | ((h(3) & 0xffL) << 24)
      size == h.length && (h(4) & 0xff) == 100 &&
        (h(5) & 0xff) == 0xff && (h(6) & 0xff) == 0xff && {
          val vl = (h(11) & 0xff) | ((h(12) & 0xff) << 8)
          13 + vl == h.length && vl >= 6 && h(13) == '9' && h(14) == 'P'
        }
    }),
    // DTLS 1.3 unified header (RFC 9147 §4): 001CSLEE fixed bits with
    // C=0 (no CID on a first flight) and L=1 — the 16-bit length must
    // then span exactly the remaining record payload
    "dtls13" -> (h => h.length >= 6 && (h(0) & 0xe0) == 0x20 &&
      (h(0) & 0x10) == 0 && (h(0) & 0x04) != 0 && {
        // header: flags, u16 seq (S=1) or u8 (S=0), u16 length
        val seqLen = if ((h(0) & 0x08) != 0) 2 else 1
        val lo = 1 + seqLen
        lo + 2 <= h.length &&
          (((h(lo) & 0xff) << 8) | (h(lo + 1) & 0xff)) ==
            h.length - lo - 2
      }),
    // SOCKS4/4a CONNECT/BIND: version 4, command 1..2, u16 port,
    // 4-byte address, NUL-terminated printable userid tail
    "socks4" -> (h => h.length >= 9 && (h(0) & 0xff) == 4 &&
      ((h(1) & 0xff) == 1 || (h(1) & 0xff) == 2) &&
      h(h.length - 1) == 0 &&
      (8 until h.length - 1).forall { i =>
        val c = h(i) & 0xff; c >= 0x20 && c <= 0x7e
      }),
    // BitTorrent DHT (BEP 5 KRPC): a bencoded dict opening "d1:" whose
    // top level carries the message-type key "1:y" and closes with 'e'
    "btdht" -> (h => h.length >= 16 && h(0) == 'd' && h(1) == '1' &&
      h(2) == ':' && h(h.length - 1) == 'e' && {
        val s = new String(h,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        s.contains("1:y1:") && s.contains("1:t")
      }),
    // uTP SYN (BEP 29): type 4 / version 1, extension 0..2, 20-byte
    // header, ack_nr 0 on the first packet (the connection opener —
    // later frames are only port/flow-context detectable, as in nDPI)
    "utp" -> (h => h.length >= 20 && (h(0) & 0xff) == 0x41 &&
      (h(1) & 0xff) <= 2 && h(18) == 0 && h(19) == 0),
    // KNXnet/IP (EN 13321-2): header length 0x06, protocol version
    // 0x10, a known service-family type, u16 total length == datagram
    "knx" -> (h => h.length >= 6 && (h(0) & 0xff) == 0x06 &&
      (h(1) & 0xff) == 0x10 && {
        val svc = ((h(2) & 0xff) << 8) | (h(3) & 0xff)
        val tot = ((h(4) & 0xff) << 8) | (h(5) & 0xff)
        tot == h.length &&
          ((svc >= 0x0201 && svc <= 0x020b) || // core (search/connect)
            svc == 0x0310 || svc == 0x0311 || // device management
            svc == 0x0420 || svc == 0x0421) // tunneling
      }),
    // OPC UA binary (OPC 10000-6 §7.1): 3-ASCII message type + final
    // chunk marker 'F', u32 LE message size spanning the whole chunk
    "opcua" -> (h => h.length >= 8 && {
      val t = new String(h, 0, 3,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      (t == "HEL" || t == "ACK" || t == "ERR" || t == "OPN" ||
        t == "CLO" || t == "MSG") && h(3) == 'F' &&
        ((h(4) & 0xffL) | ((h(5) & 0xffL) << 8) | ((h(6) & 0xffL) << 16) |
          ((h(7) & 0xffL) << 24)) == h.length
    }),
    // Omron FINS/TCP: "FINS" magic, u32 BE length counting everything
    // after the 8-byte magic+length, command 0..3 (address handshake /
    // frame send family)
    "fins" -> (h => h.length >= 16 && h(0) == 'F' && h(1) == 'I' &&
      h(2) == 'N' && h(3) == 'S' && {
        def u32(i: Int): Long = ((h(i) & 0xffL) << 24) |
          ((h(i + 1) & 0xffL) << 16) | ((h(i + 2) & 0xffL) << 8) |
          (h(i + 3) & 0xffL)
        u32(4) == h.length - 8 && u32(8) <= 3
      }),
    // RMCP (ASF 2.0 spec): version 0x06, reserved 0, class ASF (0x06,
    // body opens with the ASF IANA enterprise number 4542) or IPMI
    // (0x07, body opens with an auth-type octet <= 6)
    "rmcp" -> (h => h.length >= 12 && (h(0) & 0xff) == 0x06 &&
      h(1) == 0 && {
        val cls = h(3) & 0x7f
        def u32(i: Int): Long = ((h(i) & 0xffL) << 24) |
          ((h(i + 1) & 0xffL) << 16) | ((h(i + 2) & 0xffL) << 8) |
          (h(i + 3) & 0xffL)
        (cls == 0x06 && u32(4) == 4542L) ||
          (cls == 0x07 && (h(4) & 0xff) <= 6)
      }),
    // SLPv2 (RFC 2608 §8): version 2, function 1..11, 3-byte length ==
    // datagram, reserved flag bits zero, language tag present
    "slp" -> (h => h.length >= 16 && (h(0) & 0xff) == 2 &&
      (h(1) & 0xff) >= 1 && (h(1) & 0xff) <= 11 &&
      (((h(2) & 0xff) << 16) | ((h(3) & 0xff) << 8) | (h(4) & 0xff))
        == h.length &&
      (h(5) & 0x1f) == 0 && h(6) == 0),
    // Ubiquiti discovery v1: version 1, cmd 0, u16 BE length of the
    // TLV body, and the TLVs (u8 type, u16 len) must tile it exactly
    "ubnt" -> (h => h.length >= 4 && h(0) == 1 && h(1) == 0 &&
      (((h(2) & 0xff) << 8) | (h(3) & 0xff)) == h.length - 4 &&
      h.length > 4 && {
        var off = 4
        var ok = true
        while (ok && off < h.length) {
          if (off + 3 > h.length) ok = false
          else off += 3 + (((h(off + 1) & 0xff) << 8) | (h(off + 2) & 0xff))
        }
        ok && off == h.length
      }))

  /** The default table. Order = match priority; most-specific ASCII
    * prefixes first (DoH before HTTP), binary heuristics after, the
    * cheap catch-all heuristics (dns) last — the same ambiguity policy
    * as the original if-chain, now data. */
  val default: Seq[Rule] = Seq(
    Rule("doh", Seq(AnyOf(Seq(Seq(Ascii("POST /dns-query")),
      Seq(Ascii("GET /dns-query")))))),
    // the h2c connection preface — fixed 24 ASCII bytes, RFC 7540 §3.5
    Rule("http2", Seq(Ascii("PRI * HTTP/2.0"))),
    // before http: a websocket upgrade IS a GET until the header scan
    Rule("websocket", Seq(Heur("websocket"))),
    // before http: IPP rides HTTP POST to the /ipp* endpoint
    Rule("ipp", Seq(Ascii("POST /ipp"))),
    Rule("http", Seq(AnyOf(Seq(Seq(Ascii("GET ")), Seq(Ascii("POST ")),
      Seq(Ascii("PUT ")), Seq(Ascii("HEAD ")), Seq(Ascii("HTTP/")))))),
    Rule("tls", Seq(MinLen(3), B(0, 0x16), B(1, 0x03),
      AnyOf(Seq(Seq(B(2, 0x00)), Seq(B(2, 0x01)), Seq(B(2, 0x02)),
        Seq(B(2, 0x03)), Seq(B(2, 0x04)))))),
    // DTLS record: same content type, version 0xFEFF/0xFEFD (1.0/1.2)
    Rule("dtls", Seq(MinLen(13), B(0, 0x16), B(1, 0xfe),
      AnyOf(Seq(Seq(B(2, 0xff)), Seq(B(2, 0xfd)))))),
    // the 1.3 unified header shares nothing with the plaintext record
    Rule("dtls13", Seq(Heur("dtls13"))),
    Rule("ssh", Seq(Ascii("SSH-"))),
    Rule("rtsp", Seq(AnyOf(Seq(Seq(Ascii("RTSP/")), Seq(Ascii("SETUP ")),
      Seq(Ascii("DESCRIBE ")))))),
    Rule("sip", Seq(AnyOf(Seq(Seq(Ascii("INVITE ")),
      Seq(Ascii("SIP/2.0")))))),
    // H.248/MEGACO gateway control — full text form or the '!' short
    // token form (H.248.1 annex B text encoding). The short form pins
    // the version digit and its space: a bare "!/" is two bytes a
    // VRRP priority field can produce
    Rule("megaco", Seq(AnyOf(Seq(Seq(Ascii("MEGACO/")),
      Seq(Ascii("!/1 ")))))),
    // Stratum mining (nDPI's Mining family): JSON-RPC whose method
    // namespace is mining.* — the one content shape cryptomining
    // traffic shows before TLS
    Rule("mining", Seq(Heur("stratum"))),
    // tinc VPN meta-protocol ID line
    Rule("tinc", Seq(Heur("tinc"))),
    // MGCP gateway-control verbs (RFC 3435 §3.2; NTFY is distinct from
    // SSDP's "NOTIFY * ")
    Rule("mgcp", Seq(AnyOf(Seq(Seq(Ascii("CRCX ")), Seq(Ascii("MDCX ")),
      Seq(Ascii("DLCX ")), Seq(Ascii("RQNT ")), Seq(Ascii("NTFY ")),
      Seq(Ascii("AUEP ")))))),
    Rule("bittorrent", Seq(Heur("bittorrent"))),
    // the DHT sidecar: bencoded KRPC over UDP
    Rule("btdht", Seq(Heur("btdht"))),
    Rule("smtp", Seq(AnyOf(Seq(Seq(Ascii("220 ")), Seq(Ascii("EHLO ")),
      Seq(Ascii("HELO ")), Seq(Ascii("MAIL FROM:")))))),
    // NNTP greeting: 200 (posting allowed) / 201 (read-only)
    Rule("nntp", Seq(AnyOf(Seq(Seq(Ascii("200 ")), Seq(Ascii("201 ")))))),
    Rule("imap", Seq(AnyOf(Seq(Seq(Ascii("* OK")),
      Seq(Ascii("a001 LOGIN")))))),
    Rule("pop3", Seq(AnyOf(Seq(Seq(Ascii("+OK")), Seq(Ascii("USER ")),
      Seq(Ascii("RETR ")))))),
    Rule("irc", Seq(Ascii("NICK "))),
    // AMQP 1.0 (ISO 19464 §2.2): protocol ids 0 (AMQP) / 2 (TLS) /
    // 3 (SASL) with major version 1 — MUST precede the 0-9-1 rule,
    // whose byte-4 pin alone would also claim the plain 1.0 header
    Rule("amqp1", Seq(Ascii("AMQP"), MinLen(8),
      AnyOf(Seq(Seq(B(4, 0x00)), Seq(B(4, 0x02)), Seq(B(4, 0x03)))),
      B(5, 0x01), B(6, 0x00), B(7, 0x00))),
    Rule("amqp", Seq(Ascii("AMQP"), B(4, 0x00))),
    Rule("rsync", Seq(Ascii("@RSYNCD:"))),
    // NBD server greeting (oldstyle and newstyle both open with it)
    Rule("nbd", Seq(Ascii("NBDMAGIC"))),
    Rule("nats", Seq(AnyOf(Seq(Seq(Ascii("CONNECT {")),
      Seq(Ascii("INFO {")))))),
    Rule("memcached", Seq(AnyOf(Seq(Seq(Ascii("get ")), Seq(Ascii("set ")),
      Seq(Ascii("stats\r\n")))))),
    Rule("redis", Seq(B(0, '*'), MinLen(4),
      AnyOf((1 to 9).map(d => Seq(B(1, '0' + d)): Seq[Pred])))),
    // ZooKeeper four-letter admin words — exact-length frames, so they
    // cannot shadow any longer ASCII family
    Rule("zookeeper", Seq(LenIs(4), AnyOf(Seq(Seq(Ascii("ruok")),
      Seq(Ascii("mntr")), Seq(Ascii("srvr")), Seq(Ascii("conf")))))),
    // NSQ magic: two spaces + protocol version
    Rule("nsq", Seq(LenIs(4), Ascii("  V2"))),
    // FIX: BeginString + SOH + BodyLength — the mandated field order
    Rule("fix", Seq(Heur("fix"))),
    // IBM MQ TSH eyecatcher + byte-order-aware segment self-length
    Rule("ibmmq", Seq(Heur("ibmmq"))),
    Rule("rdp", Seq(MinLen(7), B(0, 3), B(1, 0), B(5, 0xE0))),
    Rule("ssdp", Seq(AnyOf(Seq(Seq(Ascii("M-SEARCH ")),
      Seq(Ascii("NOTIFY * ")))))),
    Rule("smb", Seq(Heur("smb"))),
    // v5 before v4: both are CONNECT+"MQTT" frames; the level byte +
    // properties walk is the specialization and must win
    Rule("mqtt5", Seq(Heur("mqtt5"))),
    Rule("mqtt", Seq(Heur("mqtt"))),
    Rule("mysql", Seq(Heur("mysql"))),
    Rule("postgres", Seq(Heur("postgres"))),
    Rule("ldap", Seq(Heur("ldap"))),
    Rule("kerberos", Seq(Heur("kerberos"))),
    // S7comm MUST precede radius: TPKT's u16 self-length sits at the
    // same bytes 2..3 and its version byte 3 is RADIUS code 3 — the
    // COTP/S7 walk is the specialization (it also precedes h323, the
    // other TPKT rider, pinning COTP DT 0xF0 vs Q.931's 0x08)
    Rule("s7comm", Seq(Heur("s7comm"))),
    // diameter and ospf MUST precede radius: all three carry a
    // self-length at bytes 2..3 and overlap on the first byte
    // (RADIUS codes 1/2 == Diameter version / OSPF version)
    Rule("diameter", Seq(Heur("diameter"))),
    Rule("ospf", Seq(Heur("ospf"))),
    Rule("radius", Seq(Heur("radius"))),
    Rule("wireguard", Seq(Heur("wireguard"))),
    Rule("openvpn", Seq(Heur("openvpn"))),
    Rule("telnet", Seq(Heur("telnet"))),
    Rule("tftp", Seq(Heur("tftp"))),
    Rule("syslog", Seq(Heur("syslog"))),
    Rule("vnc", Seq(Ascii("RFB 003."))),
    // bare <hello> (the XML declaration is optional, RFC 6241 §8.1);
    // a declared netconf hello starting "<?xml" lands on xmpp — the
    // same first-packet ambiguity nDPI resolves by port
    Rule("netconf", Seq(Ascii("<hello"))),
    // WS-Discovery before xmpp: both start "<?xml", the discovery
    // namespace is the specialization
    Rule("wsd", Seq(Heur("wsd"))),
    Rule("xmpp", Seq(AnyOf(Seq(Seq(Ascii("<?xml")),
      Seq(Ascii("<stream:stream")))))),
    Rule("git", Seq(Ascii("git-upload-pack", off = 4))),
    Rule("stomp", Seq(AnyOf(Seq(Seq(Ascii("STOMP\n")),
      Seq(Ascii("CONNECT\naccept-version")))))),
    Rule("gnutella", Seq(Ascii("GNUTELLA "))),
    Rule("http_connect", Seq(Ascii("CONNECT "))),
    // FTP-unique verbs only: USER/PASS/RETR/LIST are shared with POP3
    // (payload alone can't split them; nDPI uses flow context there)
    Rule("ftp", Seq(AnyOf(Seq(Seq(Ascii("STOR ")), Seq(Ascii("CWD ")),
      Seq(Ascii("PASV")), Seq(Ascii("TYPE I")), Seq(Ascii("FEAT")))))),
    // DSI OpenSession: flags 0 (request), command 4, dataOffset 0
    Rule("afp", Seq(MinLen(16), B(0, 0), B(1, 4), B(4, 0), B(5, 0),
      B(6, 0), B(7, 0))),
    // SCCRQ: u16 total length, control message 1, magic 0x1A2B3C4D
    Rule("pptp", Seq(U16SelfLen(0, 0), B(2, 0), B(3, 1), B(4, 0x1a),
      B(5, 0x2b), B(6, 0x3c), B(7, 0x4d))),
    // NBNS name query: the full RFC 1002 first-level-encoding walk
    // (QDCOUNT 1, 32 nibble chars 'A'..'P', terminator, NB/NBSTAT, IN)
    // — the old length-byte-only form also claimed DNS queries whose
    // first label happened to be 32 chars long
    Rule("netbios", Seq(Heur("netbios"))),
    Rule("zabbix", Seq(Ascii("ZBXD"), B(4, 1))),
    Rule("teamspeak", Seq(Ascii("TS3INIT1"))),
    Rule("svn", Seq(Ascii("( success"))),
    // ADB CNXN banner (system version + maxdata follow the magic)
    Rule("adb", Seq(Ascii("CNXN"), MinLen(24))),
    Rule("cvs", Seq(Ascii("BEGIN AUTH REQUEST\n"))),
    // HL7 over MLLP: 0x0B start block, then the MSH segment
    Rule("hl7", Seq(B(0, 0x0b), Ascii("MSH|", off = 1))),
    // DICOM A-ASSOCIATE-RQ: PDU type 1, reserved 0, u32 PDU length
    // (high half zero for any real association), protocol version 1 at
    // bytes 6-7 (PS3.8 §9.3.2). The zero length-high-half keeps an
    // OpenFlow hello with xid 1 (01 00 len xid) out of this rule.
    Rule("dicom", Seq(MinLen(10), B(0, 0x01), B(1, 0x00), B(2, 0x00),
      B(3, 0x00), B(6, 0x00), B(7, 0x01))),
    Rule("mpd", Seq(Ascii("OK MPD "))),
    // Ceph messenger banner ("ceph v027" classic / "ceph v2\n" msgr2)
    Rule("ceph", Seq(Ascii("ceph v"))),
    // X11 setup: byte-order marker + protocol major 11 — before sunrpc,
    // whose zero-run check an auth-less 'l' setup could also satisfy
    Rule("x11", Seq(Heur("x11"))),
    // NFS = an ONC RPC call to program 100003 — the program-number
    // specialization MUST precede the generic sunrpc rule
    Rule("nfs", Seq(MinLen(28), B(4, 0), B(5, 0), B(6, 0), B(7, 0),
      B(8, 0), B(9, 0), B(10, 0), B(11, 2),
      B(12, 0), B(13, 1), B(14, 0x86), B(15, 0xa3))),
    // ONC RPC call: msg_type CALL (0), rpcvers 2
    Rule("sunrpc", Seq(MinLen(24), B(4, 0), B(5, 0), B(6, 0), B(7, 0),
      B(8, 0), B(9, 0), B(10, 0), B(11, 2))),
    // BVLC: type 0x81, u16 length spans the whole payload
    Rule("bacnet", Seq(MinLen(4), B(0, 0x81), U16SelfLen(2, 0))),
    Rule("bgp", Seq(Heur("bgp"))),
    Rule("dnp3", Seq(Heur("dnp3"))),
    Rule("modbus", Seq(Heur("modbus"))),
    // EtherNet/IP: LE command set + LE self-length, the industrial
    // sibling of modbus
    Rule("enip", Seq(Heur("enip"))),
    Rule("ike", Seq(Heur("ike"))),
    // before rtcp/rtp: an SRT control packet's 0x80 first byte
    // satisfies RTP's loose V=2 check (PT 0 = PCMU); the 0x8000
    // control type + CIF version pin it first
    Rule("srt", Seq(Heur("srt"))),
    // before rtp for the same reason as srt: a strict-binary Thrift
    // frame's 0x80 first byte satisfies RTP's loose V=2 check, and the
    // printable-method-name walk is the far stronger signal
    Rule("thrift", Seq(Heur("thrift"))),
    // XR (PT 207) before the PT 200..204 sender/receiver-report rule —
    // disjoint PT values, the specialization reads better first
    Rule("rtcp_compound", Seq(Heur("rtcp_compound"))),
    Rule("rtcp_xr", Seq(Heur("rtcp_xr"))),
    Rule("rtcp", Seq(Heur("rtcp"))),
    Rule("rtp", Seq(Heur("rtp"))), // after rtcp: PT ranges disjoint
    Rule("l2tp", Seq(Heur("l2tp"))),
    Rule("tacacs", Seq(Heur("tacacs"))),
    Rule("socks5", Seq(Heur("socks5"))),
    Rule("socks4", Seq(Heur("socks4"))),
    // before coap: "RT" (0x52) satisfies CoAP's loose version/TKL bit
    // check too — the exact 4-byte magic must win
    // RTPS (OMG DDSI-RTPS 2.x §8.3.3): magic + protocol major 2,
    // vendor id + 12-byte GUID prefix complete the 20-byte header
    Rule("rtps", Seq(MinLen(20), Ascii("RTPS"), B(4, 2))),
    // before coap: 0x68 = 0110_1000 satisfies CoAP's loose
    // version/TKL bit check — exact-byte rules precede bit patterns
    // IEC 60870-5-104 APCI: start 0x68, u8 APDU length == packet-2
    Rule("iec104", Seq(MinLen(6), B(0, 0x68), Heur("iec104len"))),
    // before coap for the same reason: a raw IPv6 version nibble (0x6x)
    // sits in CoAP's loose 2-bit version band, and a 40-byte
    // self-consistent IPv6 header is the far stronger signal
    Rule("teredo", Seq(Heur("teredo"))),
    // GTPv2's 0x4x first byte also lands in CoAP's band: the u16
    // self-length wins the ambiguity, so it goes first
    Rule("gtpv2", Seq(Heur("gtpv2"))),
    // uTP's 0x41 SYN byte is in the band too; the 20-byte header +
    // zero ack_nr pin beats CoAP's loose class check (a ≥20-byte CoAP
    // GET with TKL 1 and two zero option bytes is the residual
    // ambiguity — nDPI resolves the same pair by port)
    Rule("utp", Seq(Heur("utp"))),
    // before coap: OPC UA "HELF" (0x48) and FINS "FINS" (0x46) both
    // parse as a CoAP CON header byte — but each proves itself with a
    // self-length check CoAP can't offer, so the specializations go
    // first (the quic_retry-before-quic policy)
    Rule("opcua", Seq(Heur("opcua"))),
    Rule("fins", Seq(Heur("fins"))),
    // before coap, same policy: the MPEG-TS sync byte (0x47) and
    // AYIYA's idlen/idtype byte (0x41) both sit in CoAP's loose 2-bit
    // version band, and each proves itself with structure CoAP can't
    // offer (the 188-byte sync grid / the fixed header+nexthdr pins)
    Rule("mpegts", Seq(MinLen(377), B(0, 0x47), B(188, 0x47),
      B(376, 0x47))),
    Rule("ayiya", Seq(Heur("ayiya"))),
    Rule("coap", Seq(Heur("coap"))),
    // H.225/H.323 call signalling: TPKT (03 00 + u16 self-length)
    // around Q.931 — protocol discriminator 0x08, call-ref length 2.
    // Disjoint from rdp's TPKT: rdp pins byte 5 to the X.224 CR 0xE0
    Rule("h323", Seq(MinLen(8), B(0, 0x03), B(1, 0x00),
      U16SelfLen(2, 0), B(4, 0x08), B(5, 0x02))),
    // TDS prelogin: type 0x12, status EOM, u16 BE length == packet
    Rule("mssql", Seq(MinLen(9), B(0, 0x12), B(1, 0x01),
      U16SelfLen(2, 0))),
    // the SQL-Server discovery sidecar: 0x04 + printable instance
    Rule("ssrp", Seq(Heur("ssrp"))),
    // Oracle TNS CONNECT: BE self-length + type 1 + version floor
    Rule("tns", Seq(Heur("tns"))),
    // AJP13 request: 0x12 0x34 magic + u16 data length == packet-4
    Rule("ajp", Seq(MinLen(6), B(0, 0x12), B(1, 0x34),
      U16SelfLen(2, 4))),
    // LDP: u16 version 1, u16 PDU length == packet-4 (RFC 5036 §3.5)
    Rule("ldp", Seq(MinLen(10), B(0, 0), B(1, 1), U16SelfLen(2, 4))),
    // PCEP Open: version 1 (0x20), type 1, u16 length (RFC 5440 §6.2)
    Rule("pcep", Seq(MinLen(8), B(0, 0x20), B(1, 1), U16SelfLen(2, 0))),
    // VXLAN: I flag set, reserved bytes zero, inner Ethernet follows
    Rule("vxlan", Seq(MinLen(22), B(0, 0x08), B(1, 0), B(2, 0),
      B(3, 0), B(7, 0))),
    // GENEVE sits next to its sibling encap; disjoint from vxlan on
    // byte 0 (vxlan's I-flag 0x08 fails geneve's reserved-bits test
    // only at byte 1 — but vxlan fires first anyway)
    Rule("geneve", Seq(Heur("geneve"))),
    // Bitcoin mainnet magic + "version" command name
    Rule("bitcoin", Seq(B(0, 0xf9), B(1, 0xbe), B(2, 0xb4),
      B(3, 0xd9), Ascii("version", off = 4))),
    // Source-engine A2S_INFO probe (telnet's IAC check needs byte 1
    // in 0xFB..0xFE, so the all-ones head never lands there)
    Rule("steam", Seq(B(0, 0xff), B(1, 0xff), B(2, 0xff), B(3, 0xff),
      Ascii("TSource Engine Query", off = 4))),
    // the Quake-3-lineage OOB commands share steam's all-ones head
    Rule("quake", Seq(B(0, 0xff), B(1, 0xff), B(2, 0xff), B(3, 0xff),
      AnyOf(Seq(Seq(Ascii("getstatus", off = 4)),
        Seq(Ascii("getinfo", off = 4)),
        Seq(Ascii("getchallenge", off = 4)),
        Seq(Ascii("rcon ", off = 4)))))),
    // WOL also opens all-ones; the 16×MAC repetition is the pin
    Rule("wol", Seq(Heur("wol"))),
    // Minecraft handshake: strict varint frame walk (cannot shadow
    // mqtt — the frame length must tile the payload exactly)
    Rule("minecraft", Seq(Heur("minecraft"))),
    Rule("dcerpc", Seq(Heur("dcerpc"))),
    Rule("mongodb", Seq(Heur("mongodb"))),
    // 9P Tversion shares mongodb's LE self-length; type/NOTAG/"9P"
    // pins keep the two disjoint at byte 4 onward
    Rule("ninep", Seq(Heur("ninep"))),
    Rule("cassandra", Seq(Heur("cassandra"))),
    Rule("kafka", Seq(Heur("kafka"))),
    Rule("smpp", Seq(Heur("smpp"))),
    Rule("openflow", Seq(Heur("openflow"))),
    Rule("rip", Seq(Heur("rip"))),
    Rule("gtp", Seq(Heur("gtp"))),
    Rule("bfd", Seq(Heur("bfd"))),
    // NOTE: BFD ECHO (the other ROADMAP candidate) is deliberately NOT
    // a family: RFC 5880 §5 defines no echo wire format — contents are
    // local to the sender and looped back verbatim, so the only honest
    // detector is the port (3785), which this table doesn't see. nDPI
    // keys BFD echo on the port for the same reason.
    Rule("ptp", Seq(Heur("ptp"))),
    // the NAT-traversal / tunnel tier (families SNI can never resolve)
    Rule("natpmp", Seq(Heur("natpmp"))),
    Rule("pcp", Seq(Heur("pcp"))),
    Rule("babel", Seq(Heur("babel"))),
    Rule("pptp_gre", Seq(Heur("pptp_gre"))),
    Rule("hsrp", Seq(Heur("hsrp"))),
    Rule("vrrp", Seq(Heur("vrrp"))),
    // LLDP's mandatory chassis/port/TTL TLV walk
    Rule("lldp", Seq(Heur("lldp"))),
    // Erlang epmd port-please: u16 self-length + 'z' + node name
    Rule("epmd", Seq(Heur("epmd"))),
    // the flow-telemetry protocols this engine itself decodes: the
    // self-length forms (v5, IPFIX) precede the weaker v9 count check
    Rule("netflow5", Seq(Heur("netflow5"))),
    Rule("ipfix", Seq(Heur("ipfix"))),
    Rule("netflow9", Seq(Heur("netflow9"))),
    Rule("sflow", Seq(Heur("sflow"))),
    Rule("bmp", Seq(Heur("bmp"))),
    Rule("zeromq", Seq(Heur("zeromq"))),
    // nanomsg/NNG SP handshake (sp-protocol draft §4): "\0SP\0" +
    // u16 protocol id (family nibble 1..7, pair low bit) + u16 zero
    Rule("nanomsg", Seq(LenIs(8), B(0, 0), Ascii("SP", 1), B(3, 0),
      B(4, 0), AnyOf(Seq(16, 17, 32, 33, 48, 49, 80, 81, 98, 99, 112)
        .map(v => Seq[Pred](B(5, v)))), B(6, 0), B(7, 0))),
    Rule("knx", Seq(Heur("knx"))),
    Rule("rmcp", Seq(Heur("rmcp"))),
    Rule("slp", Seq(Heur("slp"))),
    Rule("ubnt", Seq(Heur("ubnt"))),
    // Dropbox LAN-sync discovery: UDP-broadcast JSON opening with the
    // fixed host_int key (what nDPI's dissector scans for)
    Rule("dropbox", Seq(Ascii("{\"host_int\""))),
    // Spotify Connect discovery beacon: fixed "SpotUdp" magic
    Rule("spotify", Seq(Ascii("SpotUdp"))),
    Rule("dot", Seq(Heur("dnsTcp"))),
    // Retry before the generic long-header rule: a Retry packet IS a
    // valid QUIC long header — the type-3 + integrity-tag shape is the
    // specialization (RFC 9000 §17.2.5)
    // ---- r12 nDPI-residual tier (the wire-shape remainder of the
    // upstream registry audit; ROADMAP carries the disposition of the
    // SNI-/port-only rest) ----
    // RTMP C0+C1: version 3, then the C1 time field and its four
    // MANDATED zero bytes — now pinned to the EXACT handshake size
    // (ADVICE r12): C0 is 1 byte, C1 is 1536, and a real client sends
    // them in one 1537-byte write (nDPI leans on the same size
    // observation; a split C0/C1 would need flow reassembly, out of
    // scope for the first-payload classifier either way). Placed after
    // the TPKT cluster (rdp/h323 pin bytes the zero run excludes) and
    // after bmp (a BMP header whose type is 0 also zeroes bytes 5..8,
    // but its bytes 1..4 are an exact self-length — rtmp fixtures keep
    // time >= 2^24 so the two stay disjoint even without the length
    // pin, the ambiguity nDPI breaks by port)
    Rule("rtmp", Seq(LenIs(1537), B(0, 3), B(5, 0), B(6, 0),
      B(7, 0), B(8, 0))),
    Rule("skinny", Seq(Heur("skinny"))),
    Rule("xdmcp", Seq(Heur("xdmcp"))),
    Rule("dnscrypt", Seq(Heur("dnscrypt"))),
    Rule("edonkey", Seq(Heur("edonkey"))),
    Rule("lisp", Seq(Heur("lisp"))),
    Rule("mtproto", Seq(Heur("mtproto"))),
    Rule("quic_retry", Seq(Heur("quic_retry"))),
    Rule("quic", Seq(Heur("quic"))),
    // after quic: an IAX2 NEW frame's F bit lives in the same top-bit
    // band as the QUIC long header — quic's version+DCID pins win first
    Rule("iax2", Seq(Heur("iax2"))),
    // TURN before stun: a TURN message IS a STUN frame with a
    // TURN-allocated method — the specialization must win
    Rule("turn", Seq(Heur("turn"))),
    Rule("stun", Seq(Heur("stun"))),
    Rule("dhcp", Seq(Heur("dhcp"))),
    // after dhcp (the v4 shape is length-gated at 240 so cannot shadow)
    Rule("dhcpv6", Seq(Heur("dhcpv6"))),
    Rule("snmp", Seq(Heur("snmp"))),
    Rule("ntp", Seq(Heur("ntp"))),
    // mDNS must precede dns: it is dns plus the .local discriminator
    Rule("mdns", Seq(Heur("mdns"))),
    Rule("dns", Seq(Heur("dns"))),
    // LAST: both start 0x00 like a DNS id of 0x00xx, so the
    // query-count/flag gates of mdns/dns must get first refusal (the
    // port context nDPI additionally keys on — 5247, 25826 — is not
    // visible to this table)
    Rule("collectd", Seq(Heur("collectd"))),
    Rule("capwap", Seq(Heur("capwap"))))

  // ---- text form: pmacct-map-style rule lines --------------------------
  // One rule per line: `proto=NAME pred pred ...`, preds space-separated.
  //   ascii:OFF:TEXT   b:OFF:VAL:MASK   minlen:N   lenis:N
  //   u16len:OFF:BASE  heur:NAME        any=ALT|ALT (ALT = pred+pred+...)
  // TEXT is %XX-escaped (anything outside [A-Za-z0-9._~/-]), so ':', '+',
  // '|', '%' and whitespace survive the round trip. This is the same
  // load-a-map-file contract as pre_tag_map (`maps/PreTagMap`): users
  // extend the classifier by editing a file, never recompiling.

  private def esc(s: String): String = s.flatMap { c =>
    if (c.isLetterOrDigit && c < 128 || "._~/-".contains(c)) c.toString
    else f"%%${c.toInt}%02X"
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '%' && i + 3 <= s.length) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { b.append(s(i)); i += 1 }
    }
    b.toString
  }

  private def renderPred(p: Pred): String = p match {
    case Ascii(s, off) => s"ascii:$off:${esc(s)}"
    case B(off, v, m) => s"b:$off:$v:$m"
    case MinLen(n) => s"minlen:$n"
    case LenIs(n) => s"lenis:$n"
    case U16SelfLen(off, base) => s"u16len:$off:$base"
    case Heur(name) => s"heur:$name"
    case AnyOf(alts) =>
      "any=" + alts.map(_.map(renderPred).mkString("+")).mkString("|")
  }

  private def parsePred(tok: String): Pred =
    if (tok.startsWith("any="))
      AnyOf(tok.drop(4).split('|').toSeq
        .map(_.split('+').toSeq.map(parsePred)))
    else tok.split(':').toSeq match {
      case Seq("ascii", off, s) => Ascii(unesc(s), off.toInt)
      case Seq("ascii", off) => Ascii("", off.toInt) // empty TEXT
      case Seq("b", off, v, m) => B(off.toInt, v.toInt, m.toInt)
      case Seq("minlen", n) => MinLen(n.toInt)
      case Seq("lenis", n) => LenIs(n.toInt)
      case Seq("u16len", off, base) => U16SelfLen(off.toInt, base.toInt)
      case Seq("heur", name) =>
        require(heuristics.contains(name), s"unknown heuristic: $name")
        Heur(name)
      case _ => throw new IllegalArgumentException(
        s"bad predicate token: $tok")
    }

  /** Render a rule table as map-file lines (inverse of [[parse]]). */
  def render(rules: Seq[Rule]): Seq[String] =
    rules.map(r => (s"proto=${esc(r.proto)}" +: r.preds.map(renderPred))
      .mkString(" "))

  /** Parse map-file lines ('!' comments and blanks skipped) into a rule
    * table. Fails fast on malformed lines — a silently-dropped rule
    * would change classification order. */
  def parse(lines: Seq[String]): Seq[Rule] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("!"))
      .map { line =>
        val toks = line.split("\\s+").toSeq
        require(toks.head.startsWith("proto="), s"bad rule line: $line")
        Rule(unesc(toks.head.drop(6)), toks.tail.map(parsePred))
      }

  private def evalPred(p: Pred, h: Array[Byte]): Boolean = p match {
    case Ascii(s, off) => h.length >= off + s.length &&
      s.indices.forall(i => h(off + i) == s.charAt(i).toByte)
    case B(off, v, m) => h.length > off && (h(off) & m) == v
    case MinLen(n) => h.length >= n
    case LenIs(n) => h.length == n
    case U16SelfLen(off, base) => h.length >= off + 2 &&
      (((h(off) & 0xff) << 8) | (h(off + 1) & 0xff)) == h.length - base
    case Heur(name) => heuristics(name)(h)
    case AnyOf(alts) => alts.exists(_.forall(evalPred(_, h)))
  }

  def matches(rule: Rule, head: Array[Byte]): Boolean =
    rule.preds.forall(evalPred(_, head))

  /** First matching rule's protocol, "unknown" when none fires. */
  def classify(rules: Seq[Rule], head: Array[Byte]): String =
    rules.find(matches(_, head)).map(_.proto).getOrElse("unknown")

  // ---- fixture payloads per family (for specs + the gated query) ----

  /** A deterministic valid payload of the given family; `seed` varies
    * non-structural bytes so the corpus is not one constant per class. */
  def sample(proto: String, seed: Long): Array[Byte] = {
    val s = math.abs(seed)
    proto match {
      case "doh" => s"POST /dns-query HTTP/1.1\r\nHost: h$s\r\n".getBytes
      case "http2" => // preface + empty SETTINGS frame
        "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes ++
          Array[Byte](0, 0, 0, 4, 0, 0, 0, 0, (s % 120).toByte)
      case "http" => s"GET /p$s HTTP/1.1\r\nHost: x\r\n".getBytes
      case "tls" => L7.clientHello(s"host$s.example")
      case "dtls" => // DTLS 1.2 record header + handshake head
        Array[Byte](0x16, 0xfe.toByte, 0xfd.toByte, 0, 0,
          0, 0, 0, 0, 0, (s % 120).toByte, 0, 7,
          1, 0, 0, 3, 0, 0, 0)
      case "ssh" => s"SSH-2.0-graft_$s\r\n".getBytes
      case "rtsp" => s"SETUP rtsp://cam$s/track1 RTSP/1.0\r\n".getBytes
      case "sip" => s"INVITE sip:u$s@example SIP/2.0\r\n".getBytes
      case "bittorrent" =>
        Array[Byte](19) ++ "BitTorrent protocol".getBytes ++
          Array.fill[Byte](8)(0) ++ Array.fill[Byte](40)((s % 97).toByte)
      case "smtp" => s"EHLO mx$s.example\r\n".getBytes
      case "nntp" => s"200 news$s.example InterNetNews ready\r\n".getBytes
      case "imap" => "* OK IMAP4rev1 ready\r\n".getBytes
      case "pop3" => "+OK POP3 ready\r\n".getBytes
      case "irc" => s"NICK user$s\r\n".getBytes
      case "amqp" => "AMQP".getBytes ++ Array[Byte](0, 0, 9, 1)
      case "rsync" => "@RSYNCD: 31.0\n".getBytes
      case "nats" => s"""CONNECT {"verbose":false,"name":"c$s"}\r\n""".getBytes
      case "memcached" => s"get key$s\r\n".getBytes
      case "redis" => s"*2\r\n$$3\r\nGET\r\n$$4\r\nk$s\r\n".getBytes
      case "rdp" =>
        Array[Byte](3, 0, 0, 19, 14, 0xE0.toByte) ++
          Array.fill[Byte](13)(0)
      case "ssdp" => "M-SEARCH * HTTP/1.1\r\n".getBytes
      case "smb" =>
        Array[Byte](0, 0, 0, 40, 0xFE.toByte) ++ "SMB".getBytes ++
          Array.fill[Byte](36)((s % 11).toByte)
      case "mqtt" =>
        Array[Byte](0x10, 14, 0, 4) ++ "MQTT".getBytes ++
          Array[Byte](4, 2, 0, 60, 0, 2) ++ s"c$s".take(2).getBytes
      case "mqtt5" =>
        // level 5 + a 5-byte properties block (session-expiry u32)
        Array[Byte](0x10, 20, 0, 4) ++ "MQTT".getBytes ++
          Array[Byte](5, 2, 0, 60, 5, 0x11, 0, 0, 0,
            (s % 120).toByte, 0, 2) ++ s"c$s".take(2).getBytes
      case "capwap" =>
        // plain preamble, HLEN 2 (8-byte header), WBID 1 (802.11),
        // then a Discovery Request control header (msg type 1)
        Array[Byte](0, 0x10, 0x02, 0, 0, 0, 0, 0,
          0, 0, 0, 1, (s % 100).toByte, 0, 0, 0)
      case "wsd" =>
        ("<?xml version=\"1.0\" encoding=\"utf-8\"?>" +
          "<soap:Envelope xmlns:wsd=" +
          "\"http://schemas.xmlsoap.org/ws/2005/04/discovery\">" +
          s"<wsd:Probe/><!--$s--></soap:Envelope>").getBytes
      case "collectd" =>
        // host part (type 0) + time part (type 1) tiling exactly
        val host = s"h$s.example".getBytes :+ 0.toByte
        Array[Byte](0, 0, 0, (4 + host.length).toByte) ++ host ++
          Array[Byte](0, 1, 0, 12, 0, 0, 0, 0, 0, 0,
            (s % 100).toByte, 1)
      case "mysql" =>
        val ver = s"5.7.$s".getBytes
        val body = Array[Byte](10) ++ ver ++ Array[Byte](0) ++
          Array.fill[Byte](20)(1)
        Array[Byte]((body.length & 0xff).toByte,
          ((body.length >> 8) & 0xff).toByte,
          ((body.length >> 16) & 0xff).toByte, 0) ++ body
      case "postgres" =>
        val body = ("user\u0000u" + s + "\u0000\u0000").getBytes
        val len = 8 + body.length
        Array[Byte]((len >> 24).toByte, (len >> 16).toByte,
          (len >> 8).toByte, len.toByte, 0, 3, 0, 0) ++ body
      case "ldap" =>
        Array[Byte](0x30, 12, 0x02, 1, (1 + s % 120).toByte, 0x60,
          7, 2, 1, 3, 4, 0, 0x80.toByte, 0)
      case "kerberos" =>
        Array[Byte](0x6a, 14, 0x30, 12, 0x02, 1, (1 + s % 100).toByte) ++
          Array.fill[Byte](9)((s % 7).toByte)
      case "radius" =>
        val len = 20
        Array[Byte](1, (s % 256 - 128).toByte, 0, len.toByte) ++
          Array.fill[Byte](16)((s % 13).toByte)
      case "wireguard" =>
        Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](144)((s % 5).toByte)
      case "openvpn" =>
        Array[Byte](0x38, 1, 2, 3, 4, (1 + s % 120).toByte, 6, 7, 8, 0) ++
          Array.fill[Byte](8)((s % 3).toByte)
      case "telnet" =>
        Array[Byte](0xff.toByte, 0xfb.toByte, 31, 0xff.toByte,
          0xfd.toByte, 24)
      case "tftp" =>
        Array[Byte](0, 1) ++ s"file$s".getBytes ++ Array[Byte](0) ++
          "octet".getBytes ++ Array[Byte](0)
      case "syslog" => s"<134>Aug 13 00:00:0${s % 10} host app: m".getBytes
      case "vnc" => "RFB 003.008\n".getBytes
      case "xmpp" =>
        s"<?xml version='1.0'?><stream:stream to='s$s'>".getBytes
      case "git" =>
        val body = s"git-upload-pack /repo$s.git\u0000host=example\u0000"
        f"${body.length + 4}%04x$body".getBytes
      case "stomp" =>
        s"STOMP\naccept-version:1.2\nhost:h$s\n\n\u0000".getBytes
      case "gnutella" => "GNUTELLA CONNECT/0.6\r\n".getBytes
      case "http_connect" =>
        s"CONNECT host$s.example:443 HTTP/1.1\r\n".getBytes
      case "bgp" => // OPEN: marker, len 29, type 1, ver 4, AS, hold, id
        Array.fill[Byte](16)(0xff.toByte) ++ Array[Byte](0, 29, 1, 4,
          (s % 250).toByte, (1 + s % 200).toByte, 0, 90,
          10, 0, (s % 256 - 128).toByte, 1, 0)
      case "dnp3" => // link frame: start 05 64, len, ctrl, dst, src, crc
        Array[Byte](0x05, 0x64, (5 + s % 10).toByte, 0xc4.toByte,
          (s % 100).toByte, 0, (1 + s % 100).toByte, 0,
          (s % 50).toByte, (s % 60).toByte)
      case "modbus" => // MBAP: tid, proto 0, len 6, unit 1, read-holding
        Array[Byte](0xa1.toByte, (s % 250).toByte, 0, 0, 0, 6, 1, 3,
          0, (s % 100).toByte, 0, 10)
      case "ike" => // IKEv2 SA_INIT header, zero responder SPI, len 28
        Array.fill[Byte](8)((0x9a + s % 5).toByte) ++
          Array.fill[Byte](8)(0) ++
          Array[Byte](33, 0x20, 34, 0x08, 0, 0, 0, (s % 100).toByte,
            0, 0, 0, 28)
      case "rtcp" => // SR: V=2, PT=200, length 6 words = 28 bytes
        Array[Byte](0x80.toByte, 200.toByte, 0, 6) ++
          Array.fill[Byte](24)((s % 13).toByte)
      case "rtcp_compound" => // SR + SDES(CNAME) + BYE, exact tiling
        Array[Byte](0x80.toByte, 200.toByte, 0, 6) ++
          Array.fill[Byte](24)((s % 13).toByte) ++
          Array[Byte](0x81.toByte, 202.toByte, 0, 3,
            (s % 97).toByte, (s % 89).toByte, (s % 83).toByte, 1,
            1, 2, 'c', ('0' + s % 10).toByte, 0, 0, 0, 0) ++
          Array[Byte](0x81.toByte, 203.toByte, 0, 1,
            (s % 97).toByte, (s % 89).toByte, (s % 83).toByte, 1)
      case "l2tp" => // SCCRQ control header, ver 2, len 12
        Array[Byte](0xc8.toByte, 0x02, 0, 12, 0, 0, 0, 0,
          0, (s % 120).toByte, 0, 0)
      case "tacacs" => // authen START, seq 1, session id, body len 8
        Array[Byte](0xc0.toByte, 1, 1, 0, (s % 256 - 128).toByte,
          (s % 97).toByte, (s % 89).toByte, (s % 83).toByte,
          0, 0, 0, 8) ++ Array.fill[Byte](8)((s % 7).toByte)
      case "socks5" => // greeting: ver 5, nmethods, method list
        val n = 1 + (s % 3).toInt
        Array[Byte](5, n.toByte) ++
          (0 until n).map(i => (i * 2).toByte).toArray
      case "coap" => // CON GET, TKL 2, msgid (hi byte pinned nonzero)
        Array[Byte](0x42, 0x01, 0xa5.toByte, (s % 250).toByte,
          (s % 11).toByte, (s % 19).toByte)
      case "afp" => // DSI OpenSession + one 6-byte option
        Array[Byte](0, 4, (s % 100).toByte, (s % 90).toByte, 0, 0, 0, 0,
          0, 0, 0, 6, 0, 0, 0, 0, 1, 4) ++
          Array.fill[Byte](4)((s % 19).toByte)
      case "ftp" => s"STOR up$s.dat\r\n".getBytes
      case "pptp" => // SCCRQ: len 16, ctrl-msg 1, magic cookie
        Array[Byte](0, 16, 0, 1, 0x1a, 0x2b, 0x3c, 0x4d,
          0, 1, 0, 0, (s % 100).toByte, 0, 0, 0)
      case "turn" =>
        if (s % 2 == 0) {
          // ChannelData on channel 0x4Exx: the 0xE TKL nibble keeps the
          // earlier CoAP bit-check from firing on the frame
          val data = Array.fill[Byte]((4 + s % 9).toInt)((s % 31).toByte)
          Array[Byte](0x4e, (s % 200).toByte, 0, data.length.toByte) ++
            data
        } else // Allocate request + REQUESTED-TRANSPORT(UDP) attribute
          Array[Byte](0, 3, 0, 8, 0x21, 0x12, 0xa4.toByte, 0x42) ++
            Array.fill[Byte](12)((s % 251).toByte) ++
            Array[Byte](0, 0x19, 0, 4, 17, 0, 0, 0)
      case "teredo" =>
        // inner IPv6: traffic class/flow label zero, next header 59
        // (no-next), hop limit 64, src aa.., dst bb..
        val pay = (2 + s % 7).toInt
        val ip6 = Array[Byte](0x60, 0, 0, 0, (pay >> 8).toByte,
          pay.toByte, 59, 64) ++
          Array.fill[Byte](16)(0xaa.toByte) ++
          Array.fill[Byte](16)(0xbb.toByte) ++
          Array.fill[Byte](pay)((s % 23).toByte)
        if (s % 2 == 0) ip6 // raw IPv6-in-UDP
        else // origin indication (0x0000, port, address) first
          Array[Byte](0, 0, (s % 120).toByte, 1, 10, 0,
            (s % 100).toByte, 2) ++ ip6
      case "rtps" => // header: magic, PROTOCOLVERSION 2.x, vendor, GUID
        "RTPS".getBytes("US-ASCII") ++
          Array[Byte](2, (1 + s % 4).toByte, 1, (s % 100).toByte) ++
          Array.fill[Byte](12)((s % 97).toByte)
      case "natpmp" => (s % 3).toInt match {
        case 0 => Array[Byte](0, 0) // public-address request
        case 1 => // map-UDP request: ports 5000+, lifetime 3600
          Array[Byte](0, 1, 0, 0, 0x13, (0x88 + s % 3).toByte,
            0x13, (s % 90).toByte, 0, 0, 0x0e, 0x10)
        case _ => // map-TCP response: result 0, epoch, ports, lifetime
          Array[Byte](0, 0x82.toByte, 0, 0,
            (s % 100).toByte, (s % 50).toByte, (s % 25).toByte, 1,
            0x13, 0x88.toByte, 0x13, 0x89.toByte, 0, 0, 0x0e, 0x10)
      }
      case "pcp" => // common header + 4..12 pad (28..36 bytes: a 24-byte
        // frame would satisfy rip's (len-4)%20 check upstream)
        Array[Byte](2, (s % 3).toByte, 0, 0, 0, 0, 0x0e, 0x10) ++
          Array.fill[Byte](16)((0x10 + s % 30).toByte) ++
          Array.fill[Byte](4 * (1 + s % 3).toInt)((s % 41).toByte)
      case "babel" =>
        val body = Array.fill[Byte]((4 + s % 12).toInt)((s % 29).toByte)
        Array[Byte](42, 2, 0, body.length.toByte) ++ body
      case "pptp_gre" => // K+S flags, A + ver 1, PPP, len, call id, seq
        val pay = (4 + s % 8).toInt
        Array[Byte](0x30, 0x81.toByte, 0x88.toByte, 0x0b,
          (pay >> 8).toByte, pay.toByte,
          (s % 100).toByte, (s % 90).toByte, (s % 80).toByte, 1) ++
          Array.fill[Byte](pay)((s % 17).toByte)
      case "hsrp" => // hello/coup from active/standby, default auth
        Array[Byte](0, (s % 2).toByte,
          (if (s % 2 == 0) 16 else 8).toByte, 3, 10,
          (100 + s % 100).toByte, (s % 250).toByte, 0) ++
          "cisco".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0) ++
          Array[Byte](10, 0, (s % 200).toByte, (1 + s % 250).toByte)
      case "dhcpv6" => // Solicit/Request: nonzero txn id + Client-ID
        // option (txn bytes pinned >= 0x10: a small second byte would
        // satisfy radius's self-length shape upstream)
        val duid = Array.fill[Byte]((6 + s % 6).toInt)((s % 67).toByte)
        Array[Byte]((if (s % 2 == 0) 1 else 3).toByte,
          (0x10 + s % 100).toByte, (0x20 + s % 90).toByte,
          (1 + s % 120).toByte,
          0, 1, 0, duid.length.toByte) ++ duid
      case "gtpv2" => // Create Session Request: TEID flag, seq, spare
        val body = Array[Byte](
          (s % 100).toByte, (s % 90).toByte, (s % 80).toByte, 1, // TEID
          (s % 70).toByte, (s % 60).toByte, 1, 0) // seq + spare
        Array[Byte](0x48, 32, 0, body.length.toByte) ++ body
      case "srt" => // handshake induction: ctrl type 0, CIF version 4
        Array[Byte](0x80.toByte, 0, 0, 0,
          0, 0, 0, 0,                       // type-specific info
          (s % 100).toByte, (s % 90).toByte, 0, 1, // timestamp
          0, 0, 0, 0,                       // dest socket id
          0, 0, 0, (4 + s % 2).toByte,      // CIF version 4/5
          0, 2, (s % 50).toByte, (s % 40).toByte) ++
          Array.fill[Byte](24)((s % 23).toByte)
      case "netbios" => // NBNS query, 32-byte first-level-encoded name
        Array[Byte]((0xB0 + s % 16).toByte, (s % 97).toByte, 0x01, 0x10,
          0, 1, 0, 0, 0, 0, 0, 0, 0x20) ++
          (0 until 32).map(i => ('A' + (i + s) % 16).toByte).toArray ++
          Array[Byte](0, 0, 0x20, 0, 1)
      case "zabbix" => "ZBXD".getBytes ++ Array[Byte](1) ++
        Array[Byte](13, 0, 0, 0, 0, 0, 0, 0) ++
        ("{\"request\":\"p" + s).take(13).getBytes
      case "teamspeak" => "TS3INIT1".getBytes ++
        Array.fill[Byte](20)((s % 23).toByte)
      case "svn" => "( success ( 2 2 ( ) ( edit-pipeline ) ) ) ".getBytes
      case "ipp" =>
        s"POST /ipp/print HTTP/1.1\r\nHost: p$s\r\nContent-Type: application/ipp\r\n".getBytes
      case "adb" =>
        "CNXN".getBytes ++ Array[Byte](0, 0, 0, 1, 0, 16, 0, 0) ++
          Array.fill[Byte](12)((s % 31).toByte)
      case "cvs" =>
        s"BEGIN AUTH REQUEST\n/repo/p$s\nuser\nAscrambled\nEND AUTH REQUEST\n".getBytes
      case "hl7" =>
        Array[Byte](0x0b) ++ (s"MSH|^~\\&|app$s|fac|rcv|fac2|2024|" +
          s"|ADT^A01|$s|P|2.5\r").getBytes
      case "dicom" => // A-ASSOCIATE-RQ: type 1, u32 len, version 1
        val body = Array.fill[Byte](68)((s % 5).toByte)
        Array[Byte](1, 0, 0, 0, 0, (2 + body.length).toByte, 0, 1) ++ body
      case "mpd" => s"OK MPD 0.23.$s\n".getBytes
      case "ceph" => (if (s % 2 == 0) "ceph v027" else "ceph v2\n").getBytes ++
        Array.fill[Byte](8)((s % 11).toByte)
      case "sunrpc" => // call: xid, CALL(0), rpcvers 2, portmapper prog
        Array[Byte]((0x70 + s % 16).toByte, (s % 89).toByte,
          (s % 83).toByte, (s % 79).toByte, 0, 0, 0, 0, 0, 0, 0, 2,
          0, 1, 0x86.toByte, 0xa0.toByte, 0, 0, 0, 2, 0, 0, 0, 0)
      case "nfs" => // call: xid, CALL(0), rpcvers 2, prog 100003, v3
        Array[Byte]((0x60 + s % 16).toByte, (s % 89).toByte,
          (s % 83).toByte, (s % 79).toByte, 0, 0, 0, 0, 0, 0, 0, 2,
          0, 1, 0x86.toByte, 0xa3.toByte, 0, 0, 0, 3, 0, 0, 0, 1,
          0, 0, 0, 0)
      case "websocket" =>
        (s"GET /chat$s HTTP/1.1\r\nHost: h\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n").getBytes
      case "x11" => // setup request in either byte order
        if (s % 2 == 0)
          Array[Byte]('l', 0, 11, 0, 0, 0, 0, 0, 0, 0, 0, 0)
        else
          Array[Byte]('B', 0, 0, 11, 0, 0, 0, 0, 0, 0, 0, 0)
      case "h323" => // TPKT + Q.931 SETUP head, self-length
        val body = Array[Byte](0x08, 0x02, (s % 120).toByte,
          (1 + s % 100).toByte, 0x05) ++ Array.fill[Byte](9)((s % 7).toByte)
        Array[Byte](3, 0, 0, (4 + body.length).toByte) ++ body
      case "ptp" => // Sync: type 0, version 2, len 44, domain, flags
        Array[Byte](0, 2, 0, 44, (s % 4).toByte, 0, 0, 0) ++
          Array.fill[Byte](36)((s % 9).toByte)
      case "mgcp" =>
        val verbs = Seq("CRCX", "MDCX", "DLCX", "RQNT", "NTFY", "AUEP")
        s"${verbs((s % verbs.size).toInt)} ${1000 + s % 9000} aaln/1@gw-$s MGCP 1.0\r\n".getBytes
      case "bacnet" => // BVLC original-unicast-NPDU, u16 len = total
        Array[Byte](0x81.toByte, 0x0a, 0, 8, 1, 4, (s % 100).toByte, 0)
      case "netconf" =>
        s"""<hello xmlns="urn:ietf:params:xml:ns:netconf:base:1.0"><capabilities><capability>c$s</capability>""".getBytes
      case "diameter" => // CER: ver 1, u24 len 28, request flag, cmd 257
        Array[Byte](1, 0, 0, 28, 0x80.toByte, 0, 1, 1, 0, 0, 0, 0,
          (s % 97).toByte, (s % 89).toByte, (s % 83).toByte,
          (s % 79).toByte, (s % 73).toByte, (s % 71).toByte,
          (s % 67).toByte, (s % 61).toByte) ++ Array.fill[Byte](8)(0)
      case "ospf" => // hello: ver 2, type 1, len 32, AuType 0
        Array[Byte](2, 1, 0, 32, 10, 0, 0, (1 + s % 250).toByte,
          0, 0, 0, (s % 50).toByte, (s % 97).toByte, (s % 89).toByte,
          0, 0) ++ Array.fill[Byte](16)(0)
      case "rtp" => // V=2 cc=0, dynamic PT, nonzero seq/ssrc
        Array[Byte](0x80.toByte, (96 + s % 32).toByte, 0x1f,
          (1 + s % 250).toByte, 0, 0, (s % 120).toByte, 1,
          (1 + s % 100).toByte, (s % 97).toByte, (s % 89).toByte, 2,
          (s % 13).toByte, (s % 11).toByte, (s % 7).toByte, 0)
      case "mssql" => // TDS prelogin: type 0x12, EOM, len 16
        Array[Byte](0x12, 0x01, 0, 16, 0, 0, 1, 0) ++
          Array.fill[Byte](8)((s % 19).toByte)
      case "ajp" => // forward request: magic, u16 data len, method
        Array[Byte](0x12, 0x34, 0, 2, 2, (s % 120).toByte)
      case "ldp" => // hello PDU: ver 1, len 10, LSR id, label space 0
        Array[Byte](0, 1, 0, 10, 10, 0, 0, (1 + s % 250).toByte,
          0, 0, 0x01.toByte, 0, 0, 0)
      case "pcep" => // Open: ver 1, type 1, len 8, OPEN object head
        Array[Byte](0x20, 1, 0, 8, 1, 0x10, 0, 4)
      case "iec104" => // STARTDT act U-frame: 0x68, len 4
        Array[Byte](0x68, 4, 0x07, 0, 0, 0)
      case "vxlan" => // header + inner Ethernet (IPv4 ethertype)
        Array[Byte](0x08, 0, 0, 0, (s % 97).toByte, (s % 89).toByte,
          (1 + s % 250).toByte, 0) ++
          Array.fill[Byte](12)((s % 23).toByte) ++
          Array[Byte](0x08, 0)
      case "bitcoin" => // magic + "version" command + len + checksum
        Array[Byte](0xf9.toByte, 0xbe.toByte, 0xb4.toByte,
          0xd9.toByte) ++ "version".getBytes ++
          Array.fill[Byte](5)(0) ++
          Array[Byte](4, 0, 0, 0, (s % 97).toByte, (s % 89).toByte,
            (s % 83).toByte, (s % 79).toByte, 1, 0, 0, 0)
      case "steam" => // A2S_INFO probe
        Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte,
          0xff.toByte) ++ "TSource Engine Query".getBytes ++
          Array[Byte](0)
      case "dcerpc" => // bind: ver 5.0, ptype 11, LE drep, LE len 16
        Array[Byte](5, 0, 11, 3, 0x10, 0, 0, 0, 16, 0, 0, 0,
          (s % 97).toByte, (s % 89).toByte, (s % 83).toByte, 0)
      case "mongodb" => // OP_MSG: LE len 26, reqid, respTo 0, op 2013
        Array[Byte](26, 0, 0, 0, (0x50 + s % 40).toByte,
          (s % 97).toByte, 0, 0, 0, 0, 0, 0, 0xdd.toByte, 7, 0, 0,
          0, 0, 0, 0, 0, 5, 0, 0, 0, 0)
      case "cassandra" => // STARTUP: ver 4, stream, u32 body len 4
        Array[Byte](4, 0, 0, (s % 120).toByte, 1, 0, 0, 0, 4,
          0, 0, (s % 97).toByte, (s % 89).toByte)
      case "kafka" => // request: u32 size 16, Produce v9, client id
        Array[Byte](0, 0, 0, 16, 0, 0, 0, 9, (s % 97).toByte,
          (s % 89).toByte, (s % 83).toByte, (s % 79).toByte,
          0, 2, 'g', 'r', (s % 73).toByte, (s % 71).toByte, 0, 0)
      case "smpp" => // bind_transceiver: u32 len 23, cmd 9, status 0
        Array[Byte](0, 0, 0, 23, 0, 0, 0, 9, 0, 0, 0, 0,
          0, 0, 0, (1 + s % 250).toByte) ++ "sys".getBytes ++
          Array[Byte](0, (s % 19).toByte, (s % 17).toByte, 0)
      case "openflow" => // HELLO: ver 4 (1.3), type 0, len 8, xid
        Array[Byte](4, 0, 0, 8, 0x7f, (s % 97).toByte,
          (s % 89).toByte, (s % 83).toByte)
      case "rip" => // v2 response, one 20-byte route entry
        Array[Byte](2, 2, 0, 0, 0, 2, 0, 0, 10, 0, (s % 250).toByte,
          0, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0, 0, 0, 0, 0,
          0, 0, 0, (1 + s % 15).toByte)
      case "gtp" => // GTPv1-C echo request with S flag, len 4
        Array[Byte](0x32, 1, 0, 4, 0, 0, 0, 0,
          (s % 97).toByte, (s % 89).toByte, 0, 0)
      case "bfd" => // control: ver 1, state up, mult 3, len 24
        Array[Byte](0x20, 0x40, 3, 24, 0, 0, 0, (1 + s % 250).toByte,
          0, 0, 0, 0) ++ Array.fill[Byte](12)((s % 29).toByte)
      case "dot" =>
        val dns = sample("dns", s)
        Array[Byte]((dns.length >> 8).toByte, dns.length.toByte) ++ dns
      case "quic" =>
        // cycle v1, v2 (RFC 9369's 0x6b3343cf) and a VERSION
        // NEGOTIATION packet (version 0, low header bits arbitrary,
        // DCID/SCID, then 4-byte supported-version entries) by seed
        if (s % 3 == 2) {
          val dcid = Array.fill[Byte](8)((s % 19).toByte)
          val scid = Array.fill[Byte](5)((s % 13).toByte)
          // low header bits arbitrary per spec, but steer clear of
          // 0x80/0x90 — an RTP v2 header with PT 0 is byte-identical
          // that far (nDPI's port-context ambiguity; rtp sits earlier)
          Array[Byte]((0x81 | (s % 0x0e)).toByte, 0, 0, 0, 0,
            dcid.length.toByte) ++ dcid ++
            Array[Byte](scid.length.toByte) ++ scid ++
            Array[Byte](0, 0, 0, 1, 0x6b, 0x33, 0x43, 0xcf.toByte)
        } else {
          val ver = if (s % 3 == 0) Array[Byte](0, 0, 0, 1)
            else Array[Byte](0x6b, 0x33, 0x43, 0xcf.toByte)
          Array[Byte](0xc3.toByte) ++ ver ++
            Array.fill[Byte](40)((s % 17).toByte)
        }
      case "stun" =>
        Array[Byte](0, 1, 0, 8, 0x21, 0x12, 0xa4.toByte, 0x42.toByte) ++
          Array.fill[Byte](12)((s % 29).toByte) ++
          Array[Byte](0, 3, 0, 4, 0, 0, 0, 0)
      case "dhcp" =>
        val b = new Array[Byte](244)
        b(0) = 1; b(1) = 1; b(2) = 6
        b(236) = 0x63; b(237) = 0x82.toByte; b(238) = 0x53; b(239) = 0x63
        b(4) = (s % 127).toByte
        b
      case "snmp" =>
        Array[Byte](0x30, 10, 0x02, 1, 1, 4, 6) ++ "public".getBytes
      case "ntp" =>
        val b = new Array[Byte](48)
        b(0) = (0x20 | (1 + s % 5).toInt).toByte // v4, mode 1..5
        b(12) = (s % 100).toByte
        b
      case "dns" =>
        // id high byte pinned to 0xA0.. so a random id can't collide
        // with a binary rule's first-byte signature (0x6a/0x38/...)
        Array[Byte]((0xA0 + s % 32).toByte, (s % 97).toByte, 1, 0, 0, 1,
          0, 0, 0, 0, 0, 0, 3, 'w', 'w', 'w', 0, 0, 1, 0, 1)
      case "mdns" => // QM question for _svc._tcp.local, id 0 (RFC 6762)
        Array[Byte](0, (s % 120).toByte, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0,
          4, '_', 's', 'v', 'c', 4, '_', 't', 'c', 'p',
          5, 'l', 'o', 'c', 'a', 'l', 0, 0, 12, 0, 1)
      case "netflow5" => // header + one 48-byte record, count 1
        Array[Byte](0, 5, 0, 1) ++
          Array.fill[Byte](20)((1 + s % 8).toByte) ++
          Array.fill[Byte](48)((s % 7).toByte)
      case "netflow9" => // header + a minimal data flowset
        Array[Byte](0, 9, 0, 1) ++
          Array.fill[Byte](16)((1 + s % 8).toByte) ++
          Array[Byte](1, 0, 0, 8) ++ Array.fill[Byte](4)((s % 5).toByte)
      case "ipfix" => // u16 length covers the whole message
        Array[Byte](0, 10, 0, 32) ++
          Array.fill[Byte](28)((1 + s % 8).toByte)
      case "sflow" => // v5, IPv4 agent
        Array[Byte](0, 0, 0, 5, 0, 0, 0, 1) ++
          Array.fill[Byte](8)((1 + s % 9).toByte)
      case "bmp" => // 6-byte initiation header, type 4
        Array[Byte](3, 0, 0, 0, 6, 4)
      case "zeromq" => // ZMTP 3.1 greeting head + NULL mechanism bytes
        Array[Byte](0xff.toByte, 0, 0, 0, 0, 0, 0, 0,
          (1 + s % 120).toByte, 0x7f, 3, 1) ++
          "NULL".getBytes ++ Array.fill[Byte](16)(0)
      case "nanomsg" => // SP handshake, req/rep by seed parity
        Array[Byte](0, 'S', 'P', 0, 0, (48 + s % 2).toByte, 0, 0)
      case "knx" => // SEARCH_REQUEST with one HPAI, total 14
        Array[Byte](0x06, 0x10, 0x02, 0x01, 0, 14,
          0x08, 0x01, 192.toByte, 168.toByte, (1 + s % 250).toByte,
          (2 + s % 200).toByte, 0x0e, 0x57)
      case "opcua" => { // HEL chunk, LE self-size, seed-varied buffers
        val url = s"opc.tcp://plc${s % 100}".getBytes
        def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte,
          (v >> 16).toByte, (v >> 24).toByte)
        val body = le32(0) ++ le32(65536 + s % 1000) ++
          le32(65536 + s % 999) ++ le32(1 << 20) ++ le32(0) ++
          le32(url.length) ++ url
        "HELF".getBytes ++ le32(8L + body.length) ++ body
      }
      case "fins" => // node-address-data-send (cmd 0), client node
        Array[Byte]('F', 'I', 'N', 'S', 0, 0, 0, 12, // 12 B follow
          0, 0, 0, 0, // command 0
          0, 0, 0, 0, // error code
          0, 0, 0, (1 + s % 250).toByte) // client node address
      case "rmcp" => // ASF presence ping, enterprise 4542, seed tag
        Array[Byte](0x06, 0, 0xff.toByte, 0x06, 0, 0, 0x11, 0xbe.toByte,
          0x80.toByte, (s % 250).toByte, 0, 0)
      case "slp" => { // AttrRqst (fn 6): v2 header + url "svc:test"
        val url = "svc:test".getBytes
        val total = 16 + 2 + 2 + url.length + 2 + 2 + 2
        Array[Byte](2, 6, 0, 0, total.toByte, 0, 0, 0, 0, 0,
          (s % 250).toByte, (s % 199).toByte, 0, 2, 'e', 'n',
          0, 0, 0, url.length.toByte) ++ url ++
          Array[Byte](0, 0, 0, 0, 0, 0)
      }
      case "ubnt" => // discovery reply, one hwaddr+ip TLV (type 2)
        Array[Byte](1, 0, 0, 13, 2, 0, 10,
          0x24, 0xa4.toByte, 0x3c, (s % 250).toByte, (s % 199).toByte,
          (s % 251).toByte, 10, 0, (s % 250).toByte, (1 + s % 200).toByte)
      case "dropbox" => // LAN-sync discovery JSON beacon
        s"""{"host_int": ${100000 + s % 899999}, "version": [1, 8], "displayname": ""}"""
          .getBytes
      case "spotify" => // Connect discovery beacon
        "SpotUdp".getBytes ++ Array[Byte]((s % 250).toByte,
          (s % 199).toByte, 0, 0, 0, 1, 0, 4)
      case "geneve" => // ver 0, no options, inner Ethernet
        Array[Byte](0, 0, 0x65, 0x58) ++
          Array[Byte]((s % 100).toByte, (s % 50).toByte, 1, 0) ++
          Array.fill[Byte](14)((s % 11).toByte)
      case "rtcp_xr" => // XR with one receiver-reference-time block
        Array[Byte](0x80.toByte, 0xcf.toByte, 0, 4, // len 4 → 20 bytes
          (s % 100).toByte, (s % 90).toByte, 0, 1,  // SSRC
          4, 0, 0, 2,                               // BT 4, len 2
          0, 0, (s % 80).toByte, 0, 0, 0, 0, 1)     // NTP timestamp
      case "quic_retry" =>
        Array[Byte]((0xf0 | (s % 16)).toByte, 0, 0, 0, 1, // v1
          8) ++ Array.fill[Byte](8)((s % 97).toByte) ++   // DCID
          Array[Byte](8) ++ Array.fill[Byte](8)((s % 89).toByte) ++
          s"tok$s".take(6).getBytes ++                    // retry token
          Array.fill[Byte](16)((s % 83).toByte)           // integrity tag
      case "s7comm" => // job setup-communication, exact TPKT tiling
        val par = Array[Byte](0xf0.toByte, 0, 0, 1, 0, 1, 1, 0xe0.toByte)
        Array[Byte](3, 0, 0, (17 + par.length).toByte,
          2, 0xf0.toByte, 0x80.toByte,
          0x32, 1, 0, 0, (s % 100).toByte, (s % 90).toByte,
          0, par.length.toByte, 0, 0) ++ par
      case "enip" => // RegisterSession: LE cmd 0x65, LE len 4, status 0
        Array[Byte](0x65, 0, 4, 0,
          (s % 100).toByte, (s % 90).toByte, 0, 0,  // session handle
          0, 0, 0, 0) ++                            // status 0
          Array.fill[Byte](8)((s % 11).toByte) ++   // sender context
          Array[Byte](0, 0, 0, 0,                   // options 0
            1, 0, 0, 0)                             // proto ver 1, opts
      case "tns" => // CONNECT, version 0x136, NUL-padded connect data
        val body = Array[Byte](1, 0x36, 1, 0x2c, 0, 0, 0x08, 0,
          0x7f, 0xff.toByte) ++
          s"(DESCRIPTION=(CID=c$s))".getBytes
        Array[Byte](((body.length + 8) >> 8).toByte,
          ((body.length + 8) & 0xff).toByte, 0, 0, 1, 0,
          (s % 100).toByte, (s % 90).toByte) ++ body
      case "vrrp" => // v2 advertisement, one virtual address
        Array[Byte](0x21, (1 + s % 254).toByte, (s % 120).toByte, 1,
          0, 1, (s % 100).toByte, (s % 90).toByte,
          10, (s % 250).toByte, (s % 240).toByte, 1)
      case "thrift" => // strict-binary CALL of method "ping" + seqid
        Array[Byte](0x80.toByte, 1, 0, 1, 0, 0, 0, 4) ++
          "ping".getBytes ++
          Array[Byte](0, 0, (s % 100).toByte, (s % 90).toByte)
      case "minecraft" => // status handshake to mc.example
        val host = "mc.example".getBytes
        val body = Array[Byte](0,                      // packet id
            0xfb.toByte, 5,                            // proto 763
            host.length.toByte) ++ host ++
          Array[Byte](0x63, 0xdd.toByte, 1)            // port, status
        Array[Byte](body.length.toByte) ++ body
      case "ssrp" => (4.toByte +: s"SQL$s".getBytes.toSeq).toArray
      case "ibmmq" => // big-endian TSH, INITIAL_DATA segment
        val tail = Array.fill[Byte](18)((s % 29).toByte)
        "TSH ".getBytes ++
          Array[Byte](0, 0, 0, (10 + tail.length).toByte, 1, 1) ++ tail
      case "lldp" => // chassis(MAC) + port(ifName) + TTL 120 + end
        val mac = Array.tabulate[Byte](6)(i => ((s + i) % 97).toByte)
        Array[Byte](0x02, 7, 4) ++ mac ++
          Array[Byte](0x04, 4, 5) ++ s"e$s".padTo(3, 'x').take(3).getBytes ++
          Array[Byte](0x06, 2, 0, 0x78, 0, 0)
      case "epmd" => // PORT_PLEASE2_REQ for a seed-varied node
        val node = s"node$s@h".getBytes
        Array[Byte](0, (node.length + 1).toByte, 122) ++ node
      case "wol" =>
        val mac = Array.tabulate[Byte](6)(i => ((s + 7 * i) % 251).toByte)
        Array.fill[Byte](6)(0xff.toByte) ++
          Array.tabulate[Byte](96)(i => mac(i % 6))
      case "fix" =>
        s"8=FIX.4.2\u00019=42\u000135=A\u000149=c$s\u000156=srv\u0001"
          .getBytes
      case "zookeeper" =>
        Seq("ruok", "mntr", "srvr", "conf")((s % 4).toInt).getBytes
      case "nsq" => "  V2".getBytes
      case "dtls13" => // unified header, S=1 L=1, 8-byte ciphertext
        Array[Byte](0x2c, (s % 120).toByte, (s % 90).toByte, 0, 8) ++
          Array.fill[Byte](8)((s % 97).toByte)
      case "socks4" =>
        Array[Byte](4, 1, 0x1f, 0x90.toByte, 10, 0,
          (s % 250).toByte, 1) ++ s"user$s".getBytes ++ Array[Byte](0)
      case "amqp1" =>
        "AMQP".getBytes ++ Array[Byte]((s % 2 * 3).toByte, 1, 0, 0)
      case "btdht" =>
        (s"d1:ad2:id20:${"A" * 20}e1:q4:ping1:t2:t${s % 10}1:y1:qe")
          .getBytes
      case "utp" => // SYN: type 4 ver 1, ext 0, conn id, ts, wnd
        Array[Byte](0x41, 0, (s % 120).toByte, (s % 90).toByte,
          (s % 50).toByte, (s % 40).toByte, (s % 30).toByte, 1,
          0, 0, 0, 0,
          0, 1, 0, 0,
          (s % 20).toByte, 1, 0, 0)
      case "nbd" => "NBDMAGIC".getBytes ++
        "IHAVEOPT".getBytes ++ Array[Byte](0, (s % 120).toByte)
      case "ninep" => // Tversion NOTAG msize 8192 "9P2000"
        val ver = "9P2000".getBytes
        val size = 13 + ver.length
        Array[Byte](size.toByte, 0, 0, 0, 100, 0xff.toByte, 0xff.toByte,
          0, 0x20, 0, 0, ver.length.toByte, 0) ++ ver
      case "quake" =>
        Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte) ++
          Seq("getstatus", "getinfo x", "getchallenge",
            s"rcon p$s status")((s % 4).toInt).getBytes
      case "megaco" =>
        (if (s % 2 == 0)
          s"MEGACO/1 [10.0.${s % 250}.1]:2944 Transaction = $s " +
            "{Context = - {ServiceChange = ROOT " +
            "{Services {Method = Restart}}}}"
        else s"!/1 [10.0.${s % 250}.1]:2944 T=$s{C=-{SC=ROOT{SV{MT=RS}}}}")
          .getBytes
      case "mining" =>
        (s"""{"id": $s, "method": "mining.subscribe",""" +
          s""" "params": ["graft-miner/1.0"]}""" + "\n").getBytes
      case "tinc" => s"0 graft_node_${s % 997} 17.7\n".getBytes
      case "rtmp" => // C0 (version 3) + FULL C1 (1536 B): the rule pins
        // the exact 1537-byte handshake write; time >= 2^24 keeps the
        // head disjoint from a BMP self-length (see the rule comment)
        Array[Byte](3, (1 + s % 100).toByte, (s % 250).toByte,
          (s % 240).toByte, (s % 230).toByte, 0, 0, 0, 0) ++
          Array.tabulate[Byte](1528)(i => (((s + 7) * (i + 3)) % 97).toByte)
      case "mpegts" =>
        (0 until 3).flatMap { i =>
          Array[Byte](0x47, 0x41, 0, (0x10 | ((s + i) % 16)).toByte) ++
            Array.fill[Byte](184)(((s + i) % 251).toByte)
        }.toArray
      case "iax2" => // NEW full frame: scallno 0x8100|…, dcall 0,
        // zero oseq/iseq, frametype 6 (IAX), subclass 1 (NEW).
        // Timestamp high byte stays nonzero: dcall 0 doubles as a
        // Modbus protocol-id 0, and a u16 timestamp equal to len-6
        // would complete an MBAP header for one seed in a thousand
        Array[Byte](0x81.toByte, (s % 0xc0).toByte, 0, 0,
          (1 + s % 119).toByte, (s % 110).toByte, (s % 100).toByte,
          (s % 90).toByte, 0, 0, 6, 1, 0, (s % 80).toByte, 0, 4)
      case "skinny" => // LE length 24 == 32-8, version 0, msg id 1
        Array[Byte](24, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0) ++
          Array.fill[Byte](20)((s % 93).toByte)
      case "xdmcp" => // version 1, QUERY (3), 9-byte body (1 auth
        // name of 7 chars) — length 15 dodges natpmp's exact-12 pin
        Array[Byte](0, 1, 0, 3, 0, 9, 1, 7) ++
          s"mit-$s".padTo(7, 'x').take(7).getBytes
      case "dnscrypt" => // TXT query for 2.dnscrypt-cert.example
        Array[Byte](0x2b, (s % 250).toByte, 1, 0, 0, 1, 0, 0, 0, 0,
          0, 0, 1) ++ "2".getBytes ++ Array[Byte](13) ++
          "dnscrypt-cert".getBytes ++ Array[Byte](7) ++
          "example".getBytes ++ Array[Byte](0, 0, 16, 0, 1)
      case "edonkey" => // 0xE3, LE u32 len-5, OP_HELLO + hash/id/port
        val body = Array[Byte](1, 16) ++
          Array.fill[Byte](16)((s % 89).toByte) ++
          Array.fill[Byte](6)((s % 83).toByte)
        Array[Byte](0xe3.toByte, (body.length & 0xff).toByte,
          ((body.length >> 8) & 0xff).toByte, 0, 0) ++ body
      case "lisp" => // map-request: type 1 | A flag, 1 record, nonce
        Array[Byte](0x18, 0, 0, 1) ++
          Array.fill[Byte](8)((s % 79).toByte) ++
          Array.fill[Byte](16)((s % 73).toByte)
      case "mtproto" => // intermediate transport handshake + frame
        Array[Byte](0xee.toByte, 0xee.toByte, 0xee.toByte, 0xee.toByte,
          40, 0, 0, 0) ++ Array.fill[Byte](40)((s % 71).toByte)
      case "ayiya" => // idlen 4/idtype 1, siglen 5/SHA-1, next hdr 41
        Array[Byte](0x41, 0x51, 0x11, 41) ++
          Array.fill[Byte](4)((s % 67).toByte) ++
          Array.fill[Byte](16)((s % 61).toByte) ++
          Array.fill[Byte](20)((s % 59).toByte) ++
          Array.fill[Byte](8)((s % 53).toByte)
      case other => s"?$other$s".getBytes
    }
  }

  /** The families [[sample]] can generate, in table order — the gated
    * query's corpus alphabet. */
  val sampleFamilies: Seq[String] = default.map(_.proto)
}
