package graft.sources

import java.nio.ByteBuffer
import scala.collection.mutable

/** NetFlow v9 / IPFIX (v10) template-based codec with a per-exporter
  * template cache —
  * the stateful decode the reference keeps in `nfv9_template.c` (learned
  * per (exporter, observation domain, template id) layouts; data arriving
  * before its template is held, not dropped, mirroring nfacctd's
  * buffering choice; SURVEY §2.10 "template state", §7 hard part (c)).
  *
  * Wire formats (public): RFC 3954 v9 — 20-byte header, template flowset
  * id 0; RFC 7011 IPFIX — 16-byte header (version 10, total length),
  * template set id 2. Both carry templates as
  * `(template_id, field_count, n×(type, len))` and data sets with
  * ids ≥ 256 laid out per the referenced template. Numeric IEs up to
  * 8 bytes decode big-endian into Long. One cache instance decodes a mixed
  * v9/IPFIX datagram stream (nfacctd accepts both concurrently, §2.8).
  *
  * In the engine the cache lives inside keyed state, one key per
  * exporter: `NetFlowStream.decodeTws` keeps its [[NetFlowV9.CacheState]]
  * in a `transformWithState` ValueState, so template state partitions
  * with its exporter and survives checkpointing; q57 drives exactly that
  * shape in batch.
  */
object NetFlowV9 {
  val HeaderLen = 20
  val IpfixHeaderLen = 16

  /** RFC 7011 §7: a field length of 65535 marks a variable-length IE whose
    * actual length is encoded per record (1 byte, or 255 + 2 bytes). */
  val VarLen = 0xffff

  /** Cap on buffered data sets per missing template — a template that
    * never arrives must not grow state without bound; the oldest buffered
    * set is dropped first, like a real collector under pressure. */
  val MaxPendingPerTemplate = 64

  /** One decoded data record: IANA field type → numeric value (the
    * fixed-numeric compatibility view of [[DecodedX]]). */
  type Decoded = Map[Int, Long]

  /** Extended decoded record: key is the bare IANA type for standard IEs
    * or `(pen << 16) | type` for enterprise (PEN-scoped) IEs; values are
    * Long (fixed numeric ≤8B), String (vlen, UTF-8), or hex String
    * (fixed >8B, e.g. IPv6). */
  type DecodedX = Map[Long, Any]

  /** One template field spec. `pen != 0` = enterprise-scoped IE
    * (RFC 7011 §3.2, enterprise bit + 4-byte Private Enterprise Number);
    * `len == VarLen` = variable-length IE (RFC 7011 §7). */
  final case class FieldSpec(tp: Int, len: Int, pen: Long = 0L) {
    def isVlen: Boolean = len == VarLen
    def key: Long = if (pen == 0L) tp.toLong else (pen << 16) | tp.toLong
    def minLen: Int = if (isVlen) 1 else len
  }

  /** A repeated IE's FIRST occurrence is stored under `key | FirstOccur`
    * (the plain key keeps the LAST, matching the reference's
    * OTPL_CP_LAST default; tunnel handlers read OTPL_CP_FIRST —
    * pkt_handlers.c SRv6/tunnel paths). */
  val FirstOccur: Long = 1L << 40

  /** Reserved record key carrying the template's L3 layer stack as a
    * comma-joined string ("6,4" = v6 outer, v4 inner) — the reference's
    * tpl->layers (nfv9_template.c:938-948: a layer starts at IE 8 or
    * IE 27 in template order). */
  val LayersKey: Long = -1L

  /** Extended template: mixed fixed/vlen/PEN specs + options scope count
    * (scopeCount > 0 marks an options template, v9 set 1 / IPFIX set 3). */
  final case class TemplateX(id: Int, fields: Seq[FieldSpec],
                             scopeCount: Int = 0) {
    val minRecordLen: Int = fields.map(_.minLen).sum
    lazy val repeatedKeys: Set[Long] =
      fields.groupBy(_.key).filter(_._2.size > 1).keySet
    lazy val layers: Seq[Int] = fields.flatMap(f =>
      if (f.key == 8L) Some(4) else if (f.key == 27L) Some(6) else None)
    private[NetFlowV9] lazy val specs: Array[FieldSpec] = fields.toArray
    /** Fields whose value lands in the fixed-numeric view: standard
      * (non-PEN) fixed IEs of at most 8 bytes, each only at its key's LAST
      * occurrence — the record keeps a repeated key's last value, so a key
      * whose last occurrence is vlen or wider than 8 bytes has none. */
    private[NetFlowV9] lazy val numericField: Array[Boolean] = {
      val last = specs.indices.map(i => specs(i).key -> i).toMap
      specs.indices.map { i =>
        val f = specs(i)
        f.pen == 0L && !f.isVlen && f.len <= 8 && last(f.key) == i
      }.toArray
    }
  }

  final case class Template(id: Int, fields: Seq[(Int, Int)]) {
    val recordLen: Int = fields.map(_._2).sum
    def toX: TemplateX =
      TemplateX(id, fields.map { case (tp, ln) => FieldSpec(tp, ln) })
  }

  def encodeTemplate(h: V9Header, t: Template): Array[Byte] = {
    val setLen = 8 + t.fields.size * 4
    val buf = ByteBuffer.allocate(HeaderLen + setLen)
    putHeader(buf, h, 1)
    buf.putShort(0) // template flowset
    buf.putShort(setLen.toShort)
    buf.putShort(t.id.toShort)
    buf.putShort(t.fields.size.toShort)
    t.fields.foreach { case (tp, ln) =>
      buf.putShort(tp.toShort); buf.putShort(ln.toShort)
    }
    buf.array()
  }

  def encodeData(h: V9Header, t: Template,
                 records: Seq[Decoded]): Array[Byte] = {
    val body = records.size * t.recordLen
    val pad = (4 - (4 + body) % 4) % 4
    val setLen = 4 + body + pad
    val buf = ByteBuffer.allocate(HeaderLen + setLen)
    putHeader(buf, h, records.size)
    buf.putShort(t.id.toShort)
    buf.putShort(setLen.toShort)
    records.foreach { r =>
      t.fields.foreach { case (tp, ln) =>
        val v = r.getOrElse(tp, 0L)
        (ln - 1 to 0 by -1).foreach(i => buf.put((v >>> (8 * i)).toByte))
      }
    }
    buf.array()
  }

  /** v9 options template (set id 1): scope fields + option fields
    * (RFC 3954 §6.1; reference: sampling/if-name/VRF option records,
    * src/pkt_handlers.c:3690-3830). The template registers like a data
    * template; option data records then decode through the same path and
    * carry e.g. IE 34 (sampling interval) keyed by the scope field. */
  def encodeOptionTemplate(h: V9Header, t: Template,
                           scopeCount: Int): Array[Byte] = {
    val scopeBytes = scopeCount * 4
    val optBytes = (t.fields.size - scopeCount) * 4
    val body = 6 + t.fields.size * 4
    val pad = (4 - (4 + body) % 4) % 4
    val setLen = 4 + body + pad
    val buf = ByteBuffer.allocate(HeaderLen + setLen)
    putHeader(buf, h, 1)
    buf.putShort(1) // options template flowset
    buf.putShort(setLen.toShort)
    buf.putShort(t.id.toShort)
    buf.putShort(scopeBytes.toShort)
    buf.putShort(optBytes.toShort)
    t.fields.foreach { case (tp, ln) =>
      buf.putShort(tp.toShort); buf.putShort(ln.toShort)
    }
    buf.array()
  }

  private def putHeader(buf: ByteBuffer, h: V9Header, count: Int): Unit = {
    buf.putShort(9)
    buf.putShort(count.toShort)
    buf.putInt(h.sysUptimeMs.toInt)
    buf.putInt(h.unixSecs.toInt)
    buf.putInt(h.sequence.toInt)
    buf.putInt(h.sourceId.toInt)
  }

  // ---- IPFIX (RFC 7011) encode: 16-byte header, template set id 2 ------

  def encodeTemplateIpfix(h: V9Header, t: Template): Array[Byte] = {
    val setLen = 8 + t.fields.size * 4
    val buf = ByteBuffer.allocate(IpfixHeaderLen + setLen)
    putIpfixHeader(buf, h, IpfixHeaderLen + setLen)
    buf.putShort(2) // template set
    buf.putShort(setLen.toShort)
    buf.putShort(t.id.toShort)
    buf.putShort(t.fields.size.toShort)
    t.fields.foreach { case (tp, ln) =>
      buf.putShort(tp.toShort); buf.putShort(ln.toShort)
    }
    buf.array()
  }

  def encodeDataIpfix(h: V9Header, t: Template,
                      records: Seq[Decoded]): Array[Byte] = {
    // no padding (RFC 7011 permits none): IPFIX carries no record count,
    // so an exact-multiple set length is what keeps decode unambiguous
    // even for sub-4-byte record layouts
    val body = records.size * t.recordLen
    val setLen = 4 + body
    val buf = ByteBuffer.allocate(IpfixHeaderLen + setLen)
    putIpfixHeader(buf, h, IpfixHeaderLen + setLen)
    buf.putShort(t.id.toShort)
    buf.putShort(setLen.toShort)
    records.foreach { r =>
      t.fields.foreach { case (tp, ln) =>
        val v = r.getOrElse(tp, 0L)
        (ln - 1 to 0 by -1).foreach(i => buf.put((v >>> (8 * i)).toByte))
      }
    }
    buf.array()
  }

  private def putIpfixHeader(buf: ByteBuffer, h: V9Header,
                             totalLen: Int): Unit = {
    buf.putShort(10)
    buf.putShort(totalLen.toShort)
    buf.putInt(h.unixSecs.toInt)   // export time
    buf.putInt(h.sequence.toInt)
    buf.putInt(h.sourceId.toInt)   // observation domain id
  }

  // ---- IPFIX extended encode: vlen + PEN specs, options templates ------

  private def putSpecs(buf: ByteBuffer, fields: Seq[FieldSpec]): Unit =
    fields.foreach { f =>
      if (f.pen != 0L) {
        buf.putShort((f.tp | 0x8000).toShort) // enterprise bit
        buf.putShort(f.len.toShort)
        buf.putInt(f.pen.toInt)
      } else {
        buf.putShort(f.tp.toShort)
        buf.putShort(f.len.toShort)
      }
    }

  private def specBytes(fields: Seq[FieldSpec]): Int =
    fields.map(f => if (f.pen != 0L) 8 else 4).sum

  def encodeTemplateIpfixX(h: V9Header, t: TemplateX): Array[Byte] = {
    val setLen = 8 + specBytes(t.fields)
    val buf = ByteBuffer.allocate(IpfixHeaderLen + setLen)
    putIpfixHeader(buf, h, IpfixHeaderLen + setLen)
    buf.putShort(2) // template set
    buf.putShort(setLen.toShort)
    buf.putShort(t.id.toShort)
    buf.putShort(t.fields.size.toShort)
    putSpecs(buf, t.fields)
    buf.array()
  }

  /** IPFIX options template set (id 3, RFC 7011 §3.4.2.2): template id,
    * total field count, scope field count, then specs (PEN-capable). */
  def encodeOptionsTemplateIpfix(h: V9Header, t: TemplateX): Array[Byte] = {
    val setLen = 10 + specBytes(t.fields)
    val buf = ByteBuffer.allocate(IpfixHeaderLen + setLen)
    putIpfixHeader(buf, h, IpfixHeaderLen + setLen)
    buf.putShort(3) // options template set
    buf.putShort(setLen.toShort)
    buf.putShort(t.id.toShort)
    buf.putShort(t.fields.size.toShort)
    buf.putShort(t.scopeCount.toShort)
    putSpecs(buf, t.fields)
    buf.array()
  }

  /** Data set for an extended template: fixed numerics big-endian, vlen
    * values with the RFC 7011 §7 length prefix (1 byte, or 255 + 2). */
  def encodeDataIpfixX(h: V9Header, t: TemplateX,
                       records: Seq[DecodedX]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      t.fields.foreach { f =>
        if (f.isVlen) {
          val bytes = r.getOrElse(f.key, "") match {
            case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case b: Array[Byte] => b
            case other =>
              String.valueOf(other)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          if (bytes.length < 255) body.write(bytes.length)
          else {
            body.write(255)
            body.write((bytes.length >>> 8) & 0xff)
            body.write(bytes.length & 0xff)
          }
          body.write(bytes, 0, bytes.length)
        } else {
          val v = r.getOrElse(f.key, 0L) match {
            case l: Long => l
            case i: Int => i.toLong
            case _ => 0L
          }
          (f.len - 1 to 0 by -1).foreach(i =>
            body.write(((v >>> (8 * i)) & 0xff).toInt))
        }
      }
    }
    val b = body.toByteArray
    val setLen = 4 + b.length
    val buf = ByteBuffer.allocate(IpfixHeaderLen + setLen)
    putIpfixHeader(buf, h, IpfixHeaderLen + setLen)
    buf.putShort(t.id.toShort)
    buf.putShort(setLen.toShort)
    buf.put(b)
    buf.array()
  }

  final case class V9Header(sysUptimeMs: Long, unixSecs: Long,
                            sequence: Long, sourceId: Long)

  /** Template scope inside one exporter — pmacct's template key minus
    * the exporter address (`src/nfv9_template.h:311-325`): the header's
    * observation domain (v9 source id, IPFIX domain id) + template id. */
  final case class TemplateKey(domain: Long, id: Int)
  final case class ScopedTemplate(domain: Long, template: TemplateX)
  /** A data set held until its template arrives, with the record budget
    * from its datagram header. */
  final case class PendingSet(key: TemplateKey, budget: Int,
                              body: Array[Byte])
  /** One cache's persistent state — the `nfacctd_templates_file` content
    * (CONFIG-KEYS:2040-2064) plus the data-before-template buffer — as
    * one `Encoders.product` value. */
  final case class CacheState(templates: Seq[ScopedTemplate],
                              pending: Seq[PendingSet])

  /** Fixed-numeric view of a [[DecodedX]] record: standard-IE Long values
    * only (the API the fixed-template queries consume).
    * [[TemplateCache.observe]] builds the same view straight from the
    * wire. */
  def numeric(m: DecodedX): Decoded =
    m.collect { case (k, v: Long) if k <= 0xffffL => k.toInt -> v }

  /** What the cache's one body walker makes of a decoded record: the
    * walker reads every field's length, materializes the values of the
    * fields in `wanted`, and hands them to `build` by field position. */
  private sealed abstract class View[R] {
    def wanted(t: TemplateX): Array[Boolean]
    def build(t: TemplateX, vals: Array[Any]): R
  }

  private object ExtendedView extends View[DecodedX] {
    def wanted(t: TemplateX): Array[Boolean] = Array.fill(t.specs.length)(true)
    def build(t: TemplateX, vals: Array[Any]): DecodedX = {
      val rec = Map.newBuilder[Long, Any]
      val seen = if (t.repeatedKeys.isEmpty) null else mutable.Set[Long]()
      var i = 0
      while (i < vals.length) {
        val key = t.specs(i).key
        // repeated IE: first occurrence also lands at key|FirstOccur,
        // the plain key keeps the last (builder overwrite)
        if (seen != null && t.repeatedKeys(key) && seen.add(key))
          rec += (key | FirstOccur) -> vals(i)
        rec += key -> vals(i)
        i += 1
      }
      if (t.layers.nonEmpty) rec += LayersKey -> t.layers.mkString(",")
      rec.result()
    }
  }

  private object NumericView extends View[Decoded] {
    def wanted(t: TemplateX): Array[Boolean] = t.numericField
    def build(t: TemplateX, vals: Array[Any]): Decoded = {
      val rec = Map.newBuilder[Int, Long]
      var i = 0
      while (i < vals.length) {
        if (t.numericField(i))
          rec += t.specs(i).tp -> vals(i).asInstanceOf[Long]
        i += 1
      }
      rec.result()
    }
  }

  /** Per-exporter template cache + data-before-template buffer, scoped by
    * [[TemplateKey]]. One instance per exporter; feed datagrams in arrival
    * order. */
  final class TemplateCache {
    private val templates = mutable.Map[TemplateKey, TemplateX]()
    private val pending =
      mutable.Map[TemplateKey, mutable.Buffer[PendingSet]]()
    /** Datagrams discarded (runt / wrong version) or cut short mid-set —
      * the reference's tot_bad_datagrams health counter
      * (`src/xflow_status.h:106`). Session-local, NOT part of [[state]]:
      * a restart resets health accounting, matching the reference's
      * in-memory xflow_status table. */
    private var bad = 0L
    def badDatagrams: Long = bad

    /** Fixed-numeric view of [[observeX]] (`observeX(d).map(numeric)`),
      * built in the decoding pass. */
    def observe(datagram: Array[Byte]): Seq[Decoded] =
      decode(datagram, NumericView)

    /** Decode one datagram; returns records decodable NOW (including any
      * previously-buffered data whose template just arrived). */
    def observeX(datagram: Array[Byte]): Seq[DecodedX] =
      decode(datagram, ExtendedView)

    /** one (PEN-capable) template field spec, 4 or 8 bytes */
    private def readSpec(buf: ByteBuffer, ipfix: Boolean): FieldSpec = {
      val raw = buf.getShort() & 0xffff
      val len = buf.getShort() & 0xffff
      if (ipfix && (raw & 0x8000) != 0)
        FieldSpec(raw & 0x7fff, len, buf.getInt() & 0xffffffffL)
      else FieldSpec(raw, len)
    }

    private def decode[R](datagram: Array[Byte], view: View[R]): Seq[R] = {
      if (datagram.length < 4) { bad += 1; return Seq.empty } // runt
      val buf = ByteBuffer.wrap(datagram)
      val version = buf.getShort() & 0xffff
      // wrong version: discard like a runt (counted in badDatagrams,
      // the reference's tot_bad_datagrams) — never throw
      if (version != 9 && version != 10) { bad += 1; return Seq.empty }
      val ipfix = version == 10
      val (headerLen, templateSetId) =
        if (ipfix) (IpfixHeaderLen, 2) else (HeaderLen, 0)
      // a datagram truncated inside its own header is DISCARDED, never
      // thrown (tot_bad_datagrams accounting, src/xflow_status.h:106 —
      // one bad packet must not fail a collector task)
      if (datagram.length < headerLen) { bad += 1; return Seq.empty }
      val domain = buf.getInt(if (ipfix) 12 else 16) & 0xffffffffL
      // v9's header count caps decoded records — the only way to tell a
      // trailing 2-byte pad from a phantom 2-byte record (RFC 3954 count
      // covers template + data records in the packet)
      var budget = if (ipfix) Int.MaxValue else buf.getShort() & 0xffff
      buf.position(headerLen) // remaining header fields not needed here
      val out = mutable.Buffer[R]()
      var truncatedDg = false
      while (!truncatedDg && buf.remaining() >= 4) {
        val setId = buf.getShort() & 0xffff
        val setLen = buf.getShort() & 0xffff
        val setEnd = buf.position() + setLen - 4
        if (setLen < 4 || setEnd > buf.limit()) {
          // set header lies beyond the datagram: truncated mid-set —
          // stop here, keep whatever earlier sets produced
          truncatedDg = true
        } else try {
        if (setId == templateSetId) {
          while (buf.position() + 4 <= setEnd) {
            val tid = buf.getShort() & 0xffff
            val n = buf.getShort() & 0xffff
            val fields = (0 until n).map(_ => readSpec(buf, ipfix))
            register(domain, TemplateX(tid, fields), out, view)
            budget -= 1
          }
        } else if (!ipfix && setId == 1) {
          // v9 options template: scope + option field specs (RFC 3954
          // §6.1; no PEN in the v9 type space)
          while (buf.position() + 6 <= setEnd) {
            val tid = buf.getShort() & 0xffff
            val scopeBytes = buf.getShort() & 0xffff
            val optBytes = buf.getShort() & 0xffff
            val n = (scopeBytes + optBytes) / 4
            val fields = (0 until n).map(_ => readSpec(buf, ipfix))
            register(domain, TemplateX(tid, fields, scopeBytes / 4), out,
              view)
            budget -= 1
          }
        } else if (ipfix && setId == 3) {
          // IPFIX options template set (RFC 7011 §3.4.2.2): without this,
          // option-data sets would buffer forever as "template missing"
          while (buf.position() + 6 <= setEnd) {
            val tid = buf.getShort() & 0xffff
            val n = buf.getShort() & 0xffff
            val scopeN = buf.getShort() & 0xffff
            val fields = (0 until n).map(_ => readSpec(buf, ipfix))
            register(domain, TemplateX(tid, fields, scopeN), out, view)
          }
        } else if (setId >= 256) {
          val body = new Array[Byte](setEnd - buf.position())
          buf.get(body)
          budget -= dataSet(PendingSet(TemplateKey(domain, setId), budget,
            body), out, view)
        }
        buf.position(setEnd)
        } catch {
          // a template spec list whose PEN extensions overrun the set
          // (crafted field count) must not kill the task: stop at this
          // set, keep earlier output — same skip-and-count contract
          case _: java.nio.BufferUnderflowException => truncatedDg = true
          case _: IllegalArgumentException => truncatedDg = true
        }
      }
      if (truncatedDg) bad += 1
      out.toSeq
    }

    private def register[R](domain: Long, t: TemplateX,
                            out: mutable.Buffer[R], view: View[R]): Unit = {
      val key = TemplateKey(domain, t.id)
      templates(key) = t
      pending.remove(key).foreach(_.foreach(p =>
        decodeBody(t, p.body, p.budget, view, out)))
    }

    /** Decodes a data set now if its template is known, else buffers it
      * (oldest dropped past [[MaxPendingPerTemplate]]); returns the
      * number of records decoded. */
    private def dataSet[R](p: PendingSet, out: mutable.Buffer[R],
                           view: View[R]): Int =
      templates.get(p.key) match {
        case Some(t) => decodeBody(t, p.body, p.budget, view, out)
        case None =>
          val q = pending.getOrElseUpdate(p.key, mutable.Buffer())
          q += p
          if (q.size > MaxPendingPerTemplate) q.remove(0)
          0
      }

    /** The one body walker: appends up to `cap` records of `body` laid
      * out per `t` to `out`, as `view` builds them; returns how many. */
    private def decodeBody[R](t: TemplateX, body: Array[Byte], cap: Int,
                              view: View[R], out: mutable.Buffer[R]): Int = {
      val specs = t.specs
      val wanted = view.wanted(t)
      val vals = new Array[Any](specs.length)
      var n = 0
      var off = 0
      var truncated = false
      // stop when fewer bytes remain than the smallest possible record:
      // for fixed templates this is exactly the old pad-aware division.
      // minRecordLen only bounds the MINIMAL record, so after a vlen field
      // every subsequent read re-checks body.length — a truncated or
      // malformed set is discarded from the bad record on, never thrown
      // (the reference length-checks and discards in resolve_vlen_template,
      // src/nfv9_template.c; this path eats raw UDP payloads).
      while (!truncated && n < cap && body.length - off >= t.minRecordLen) {
        var ok = true
        var i = 0
        while (ok && i < specs.length) {
          val f = specs(i)
          if (f.isVlen) {
            if (off >= body.length) ok = false
            else {
              var l = body(off) & 0xff; off += 1
              if (l == 255) {
                if (off + 2 > body.length) ok = false
                else {
                  l = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
                  off += 2
                }
              }
              if (ok && off + l > body.length) ok = false
              else if (ok) {
                if (wanted(i)) vals(i) = new String(body, off, l,
                  java.nio.charset.StandardCharsets.UTF_8)
                off += l
              }
            }
          } else if (off + f.len > body.length) {
            ok = false
          } else {
            if (wanted(i)) vals(i) =
              if (f.len <= 8) {
                var v = 0L
                var j = 0
                while (j < f.len) { v = (v << 8) | (body(off + j) & 0xffL); j += 1 }
                v
              } else {
                // >8-byte fixed IE (e.g. IPv6): canonical hex string
                body.slice(off, off + f.len)
                  .map(b => f"${b & 0xff}%02x").mkString
              }
            off += f.len
          }
          i += 1
        }
        if (ok) { out += view.build(t, vals); n += 1 }
        else truncated = true
      }
      n
    }

    /** Snapshot of the registered templates with their domains — the
      * export side of `nfacctd_templates_receiver` (CONFIG-KEYS): a
      * collector re-encodes its cache as template-only datagrams for
      * other collectors, so a restarted/template-less peer can decode
      * data it buffered before any exporter re-sent templates. */
    def templatesSnapshot: Seq[ScopedTemplate] =
      templates.map { case (k, t) => ScopedTemplate(k.domain, t) }.toSeq
    def pendingSets: Int = pending.valuesIterator.map(_.size).sum

    /** The cache's persistent state; [[restore]] brings it back. */
    def state: CacheState =
      CacheState(templatesSnapshot, pending.values.flatten.toSeq)

    /** Re-registers the templates of `s` (releasing any data this cache
      * already buffered for them), then replays its pending sets: a set
      * whose template is now known decodes, the rest buffer again.
      * Returns the released records. */
    def restore(s: CacheState): Seq[DecodedX] = {
      val out = mutable.Buffer[DecodedX]()
      s.templates.foreach(t =>
        register(t.domain, t.template, out, ExtendedView))
      s.pending.foreach(dataSet(_, out, ExtendedView))
      out.toSeq
    }
  }

  /** Standard IANA IEs used by the tests/queries. */
  object IE {
    val InBytes = 1; val InPkts = 2; val Protocol = 4; val TcpFlags = 6
    val L4SrcPort = 7; val Ipv4SrcAddr = 8; val L4DstPort = 11
    val Ipv4DstAddr = 12
    val SamplingInterval = 34 // option IE: sampling 1-out-of-N
    val ScopeSystem = 1       // v9 option scope field type
    // NAT/firewall event logging (NEL/NSEL) IEs, numbers per the
    // reference's registry (src/nfv9_template.h:116,149-158)
    val FwdStatus = 89        // forwardingStatus, RFC 7270 §4.12
    val PostNatSrcAddr = 225  // postNATSourceIPv4Address
    val PostNatDstAddr = 226  // postNATDestinationIPv4Address
    val PostNatSrcPort = 227  // postNAPTSourceTransportPort
    val PostNatDstPort = 228  // postNAPTDestinationTransportPort
    val NatEvent = 230        // natEvent: 1=create, 2=delete
    val FwEvent = 233         // firewallEvent: 1=created 2=deleted 3=denied
    // absolute flow timestamps (src/nfv9_template.h:128-131; handler
    // accepts 4- or 8-byte encodings, src/pkt_handlers.c:3389-3394)
    val FirstSwitchedSec = 150
    val LastSwitchedSec = 151
    val FirstSwitchedMsec = 152
    val LastSwitchedMsec = 153
    // the full counter-precedence family (src/pkt_handlers.c:3240-3330)
    val OutBytes = 23
    val OutPkts = 24
    val FlowBytes = 85
    val FlowPkts = 86
    val L2OctetDelta = 352    // layer2OctetDeltaCount
    // Cisco ASA bi-flow counters (RFC 5103 biflow export as the ASA
    // emits it — initiator/responder octets, IEs 231/232)
    val InitiatorOctets = 231
    val ResponderOctets = 232
  }

  /** The v9/IPFIX counter precedence chain of the reference's data
    * handler (`src/pkt_handlers.c:3240-3330`): bytes from IN_BYTES >
    * FLOW_BYTES > OUT_BYTES > layer2OctetDeltaCount, packets from
    * IN_PKTS > FLOW_PKTS > OUT_PKTS. With `asaBiFlow` (the
    * `tmp_asa_bi_flow` knob, CONFIG-KEYS:3712) the ASA bi-flow
    * counters join as the LAST fallback — and per the documented
    * hack, responder BYTES ride the PACKETS counter (four counters
    * squeezed into pmacct's two: initiatorOctets → bytes,
    * responderOctets → packets). Returns (bytes, packets); a record
    * with none of the family present yields (0, 0), exactly the
    * not-accounted case the reference falls through on. */
  def counters(m: Map[Int, Long], asaBiFlow: Boolean): (Long, Long) = {
    val bytes = m.get(IE.InBytes)
      .orElse(m.get(IE.FlowBytes))
      .orElse(m.get(IE.OutBytes))
      .orElse(m.get(IE.L2OctetDelta))
      .orElse(if (asaBiFlow) m.get(IE.InitiatorOctets) else None)
      .getOrElse(0L)
    val pkts = m.get(IE.InPkts)
      .orElse(m.get(IE.FlowPkts))
      .orElse(m.get(IE.OutPkts))
      .orElse(if (asaBiFlow) m.get(IE.ResponderOctets) else None)
      .getOrElse(0L)
    (bytes, pkts)
  }
}
