package graft.multimodal

import scala.collection.mutable

/** WebP lossless (VP8L) codec — pure-spec, no image libraries: the
  * compressed format a web crawl meets most after JPEG/PNG/GIF
  * (reference treats media as opaque payload bytes; this decoder is
  * the feature-extraction half the Spark pipeline adds on top, like
  * [[Jpeg]]/[[Png]]/[[Gif]]).
  *
  * Sources are the public container and bitstream specs: RIFF framing
  * (WebP Container Specification) and the WebP Lossless Bitstream
  * Specification — LSB-first bit packing, canonical prefix codes
  * transmitted via code-length codes (DEFLATE's model, decoded here;
  * [[Png]] inflates through the JDK), LZ77 over ARGB pixels with 2D
  * "plane-code" short distances, a color cache (multiplicative hash),
  * optional meta-prefix tiling, and the four transforms (predictor,
  * color, subtract-green, color-indexing with sub-byte index packing).
  *
  * Decoder scope: the full VP8L lossless profile — all four
  * transforms, both prefix-code forms (simple and code-length-coded),
  * color cache, meta-prefix tiling, plane-code distances, packed
  * palettes. Lossy VP8 and extended VP8X files return None (out of
  * scope), as does every malformed structure — bounds-checked like
  * the other codecs, never throws.
  *
  * Encoder scope: real VP8L output (header, transform signalling,
  * code-length-coded canonical prefix codes with depth limiting,
  * zero-run CL tokens, LZ77 run detection with plane-code distances
  * for left/above runs) in four profiles: plain, subtract-green,
  * palette (packed when ≤16 colors), and per-id predictor transform.
  * Unlike PNG/GIF there is no independent JDK codec to cross-validate
  * against in this environment, so validation is: bit-exact
  * roundtrips across all profiles and predictor ids, hand-built spec
  * vectors for the header/simple-code/cache paths, and full
  * truncation/bit-flip fuzz (wrong pixels never, None always).
  */
object Webp {

  /** Pixels as packed 0xAARRGGBB ints, row-major. */
  final case class Image(width: Int, height: Int, argb: Array[Int])

  private val MaxPixels = 1 << 24 // decompression-bomb guard

  // ------------------------------------------------------------ bits

  private final class BitIn(b: Array[Byte], var pos: Int,
                            limit: Int = -1) {
    // Reads stop at `limit` (the end of the VP8L chunk payload), not at
    // b.length — bit reads past the chunk must set `bad` rather than
    // consume trailing RIFF chunk bytes.
    private val end = if (limit < 0) b.length else math.min(limit, b.length)
    private var acc = 0
    private var nbits = 0
    var bad = false
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= end) { bad = true; return 0 }
        acc = b(pos) & 0xff; pos += 1; nbits = 8
      }
      val v = acc & 1
      acc >>= 1; nbits -= 1
      v
    }
    /** n LSB-first bits (the VP8L packing). */
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v |= bit() << i; i += 1 }
      v
    }
  }

  private final class BitOut(out: mutable.ArrayBuffer[Byte]) {
    private var acc = 0
    private var nbits = 0
    def put(v: Int, n: Int): Unit = { // LSB-first
      var i = 0
      while (i < n) {
        acc |= ((v >> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { out += acc.toByte; acc = 0; nbits = 0 }
        i += 1
      }
    }
    def putCode(code: Int, len: Int): Unit = { // MSB-first within code
      var i = len - 1
      while (i >= 0) { put((code >> i) & 1, 1); i -= 1 }
    }
    def flush(): Unit = if (nbits > 0) { out += acc.toByte; acc = 0; nbits = 0 }
  }

  // --------------------------------------------------------- huffman

  /** Canonical prefix decode table from code lengths (≤15), the
    * DEFLATE construction VP8L shares; `only` ≥ 0 marks a 0-bit
    * single-symbol code (consumes nothing). */
  private final class Huff(lens: Array[Int], val only: Int = -1) {
    val maxLen = 15
    val count = new Array[Int](maxLen + 1)
    if (only < 0) lens.foreach(l => if (l > 0) count(l) += 1)
    val symbols = new Array[Int](if (only < 0) lens.count(_ > 0) else 0)
    val firstCode = new Array[Int](maxLen + 1)
    val firstIdx = new Array[Int](maxLen + 1)
    var valid = true
    locally {
      if (only < 0) {
        var code = 0; var idx = 0; var l = 1
        while (l <= maxLen) {
          firstCode(l) = code; firstIdx(l) = idx
          code += count(l); idx += count(l)
          if (code > (1 << l)) valid = false
          code <<= 1; l += 1
        }
        var k = 0; var l2 = 1
        while (l2 <= maxLen) {
          var s = 0
          while (s < lens.length) {
            if (lens(s) == l2) { symbols(k) = s; k += 1 }
            s += 1
          }
          l2 += 1
        }
        if (k == 0) valid = false
      }
    }
  }

  private def decodeSym(in: BitIn, h: Huff): Int = {
    if (h.only >= 0) return h.only
    var code = 0; var l = 1
    while (l <= h.maxLen) {
      code |= in.bit()
      if (in.bad) return -1
      val c = h.count(l)
      if (c > 0 && code - h.firstCode(l) < c)
        return h.symbols(h.firstIdx(l) + (code - h.firstCode(l)))
      code <<= 1; l += 1
    }
    -1
  }

  /** Canonical (code, len) per symbol from lengths — encoder side. */
  private def canonicalCodes(lens: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](lens.length)
    val count = new Array[Int](16)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](16)
    var code = 0
    (1 to 15).foreach { l =>
      code = (code + count(l - 1)) << 1
      next(l) = code
    }
    lens.indices.foreach { s =>
      val l = lens(s)
      if (l > 0) { out(s) = (next(l), l); next(l) += 1 }
      else out(s) = (0, 0)
    }
    out
  }

  /** Depth-limited Huffman code lengths (complete Kraft sum), zlib's
    * overflow rebalance. Empty/one-symbol alphabets handled upstream. */
  private def huffLengths(freq: Array[Long], maxLen: Int): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    val lens = new Array[Int](freq.length)
    if (used.isEmpty) return lens
    if (used.size == 1) { lens(used.head) = 1; return lens }
    // standard heap-merge Huffman over the used symbols
    final case class Node(w: Long, sym: Int, l: Node, r: Node)
    val pq = mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, (Long, Int)](n => (n.w, n.sym)).reverse)
    used.foreach(s => pq.enqueue(Node(freq(s), s, null, null)))
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      pq.enqueue(Node(a.w + b.w, math.min(a.sym, b.sym), a, b))
    }
    def walk(n: Node, d: Int): Unit =
      if (n.l == null) lens(n.sym) = math.max(1, d)
      else { walk(n.l, d + 1); walk(n.r, d + 1) }
    walk(pq.dequeue(), 0)
    // clamp + fix Kraft: K = sum 2^(max-len) must equal 2^max
    var changed = true
    while (changed) {
      changed = false
      used.foreach(s => if (lens(s) > maxLen) { lens(s) = maxLen; changed = true })
      var k = 0L
      used.foreach(s => k += 1L << (maxLen - lens(s)))
      val full = 1L << maxLen
      if (k > full) {
        // deepen the most frequent deepest-but-shortenable symbol:
        // push one symbol of length < maxLen one level down
        val cand = used.filter(lens(_) < maxLen)
          .minBy(s => (lens(s), -freq(s)))
        lens(cand) += 1
        changed = true
      } else if (k < full) {
        // shorten one maxLen symbol if it fits, else give slack to
        // the deepest symbol by splitting: raise a symbol up
        val cand = used.filter(s => lens(s) > 1 &&
            k + (1L << (maxLen - lens(s) + 1)) - (1L << (maxLen - lens(s))) <= full)
          .sortBy(s => (-lens(s), freq(s))).headOption
        cand match {
          case Some(s) => lens(s) -= 1; changed = true
          case None => // cannot complete (shouldn't happen): pad below
            changed = false
        }
      }
    }
    lens
  }

  // ------------------------------------------- prefix (LZ77) coding

  /** VP8L prefix-coded value → (symbol, extraBits, extraVal). */
  private def prefixEncode(v: Int): (Int, Int, Int) = {
    if (v <= 4) return (v - 1, 0, 0)
    val highest = 31 - Integer.numberOfLeadingZeros(v - 1)
    val second = ((v - 1) >> (highest - 1)) & 1
    val code = 2 * highest + second
    val eb = highest - 1
    val extra = (v - 1) & ((1 << eb) - 1)
    (code, eb, extra)
  }

  /** Decode side of [[prefixEncode]]. */
  private def prefixDecode(in: BitIn, code: Int): Int = {
    if (code < 4) return code + 1
    val eb = (code - 2) >> 1
    val offset = (2 + (code & 1)) << eb
    offset + in.bits(eb) + 1
  }

  /** The 120 plane codes: 2D offsets (dx, dy) ordered by Euclidean
    * distance, ties by larger dy then smaller |dx| then positive dx —
    * the ordering of the spec's listed table (prefix pinned in
    * WebpSpec against the known table head). */
  val PlaneCodes: Array[(Int, Int)] = {
    val all = for {
      dy <- 0 to 15
      dx <- -7 to 8
      if dy > 0 || dx > 0
    } yield (dx, dy)
    all.sortBy { case (dx, dy) =>
      (dx * dx + dy * dy, -dy, math.abs(dx), -dx)
    }.take(120).toArray
  }

  private def planeToDistance(w: Int, code: Int): Int =
    if (code > 120) code - 120
    else {
      val (dx, dy) = PlaneCodes(code - 1)
      val d = dy * w + dx
      if (d >= 1) d else 1
    }

  // ---------------------------------------------------------- decode

  private def subSampleSize(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  private final case class Transform(kind: Int, bits: Int,
                                     data: Array[Int], origW: Int)

  /** One prefix code group (green+len+cache, red, blue, alpha, dist). */
  private final class Group(val codes: Array[Huff])

  private def readCode(in: BitIn, alphabet: Int): Huff = {
    if (in.bits(1) == 1) {
      // simple code: 1-2 symbols
      val num = in.bits(1) + 1
      val first8 = in.bits(1)
      val s0 = in.bits(if (first8 == 1) 8 else 1)
      if (num == 1) {
        if (s0 >= alphabet) { in.bad = true; return new Huff(Array(1)) }
        return new Huff(null, only = s0)
      }
      val s1 = in.bits(8)
      if (s0 >= alphabet || s1 >= alphabet || s0 == s1) {
        in.bad = true; return new Huff(Array(1))
      }
      val lens = new Array[Int](alphabet)
      lens(s0) = 1; lens(s1) = 1
      new Huff(lens)
    } else {
      // code-length-coded
      val clLens = new Array[Int](19)
      val n = 4 + in.bits(4)
      var i = 0
      while (i < n) { clLens(ClOrder(i)) = in.bits(3); i += 1 }
      val cl = new Huff(clLens)
      if (!cl.valid) { in.bad = true; return cl }
      var maxTokens = Int.MaxValue
      if (in.bits(1) == 1) {
        val lnb = 2 + 2 * in.bits(3)
        maxTokens = 2 + in.bits(lnb)
      }
      val lens = new Array[Int](alphabet)
      var sym = 0
      var prev = 8
      while (sym < alphabet && !in.bad) {
        if (maxTokens == 0) sym = alphabet // budget exhausted: rest 0
        else {
          maxTokens -= 1
          val c = decodeSym(in, cl)
          if (c < 0) in.bad = true
          else if (c < 16) {
            lens(sym) = c; sym += 1
            if (c != 0) prev = c
          } else {
            var rep = 0; var v = 0
            c match {
              case 16 => rep = 3 + in.bits(2); v = prev
              case 17 => rep = 3 + in.bits(3); v = 0
              case _ => rep = 11 + in.bits(7); v = 0
            }
            if (sym + rep > alphabet) in.bad = true
            else {
              var j = 0
              while (j < rep) { lens(sym) = v; sym += 1; j += 1 }
            }
          }
        }
      }
      val h = new Huff(lens)
      if (!h.valid) in.bad = true
      h
    }
  }

  private val ClOrder = Array(17, 18, 0, 1, 2, 3, 4, 5, 16,
    6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def hashPixel(p: Int, bits: Int): Int =
    (0x1e35a7bd * p) >>> (32 - bits)

  /** Decode one VP8L image stream (recursive: entropy/transform
    * sub-images use the same grammar minus transforms). Returns the
    * ARGB pixels of the (possibly transform-coded) image, or null. */
  private def decodeStream(in: BitIn, w0: Int, h0: Int,
                           level0: Boolean): Array[Int] = {
    var w = w0
    val h = h0
    val transforms = mutable.Buffer[Transform]()
    if (level0) {
      val seen = mutable.Set[Int]()
      while (!in.bad && in.bits(1) == 1) {
        val t = in.bits(2)
        if (seen(t)) { in.bad = true }
        else {
          seen += t
          t match {
            case 0 | 1 => // predictor / color: tiled sub-image
              val bits = in.bits(3) + 2
              val sub = decodeStream(in, subSampleSize(w, bits),
                subSampleSize(h, bits), level0 = false)
              if (sub == null) in.bad = true
              else transforms += Transform(t, bits, sub, w)
            case 2 =>
              transforms += Transform(2, 0, null, w)
            case _ => // color indexing
              val n = in.bits(8) + 1
              val pal = decodeStream(in, n, 1, level0 = false)
              if (pal == null) in.bad = true
              else {
                // palette is delta-coded per channel
                var i = 1
                while (i < n) {
                  pal(i) = addPixels(pal(i), pal(i - 1)); i += 1
                }
                val pb = if (n <= 2) 3 else if (n <= 4) 2
                  else if (n <= 16) 1 else 0
                transforms += Transform(3, pb, pal, w)
                w = subSampleSize(w, pb)
              }
          }
        }
      }
    }
    if (in.bad || w <= 0 || h <= 0 || w.toLong * h > MaxPixels)
      return null
    // color cache
    var cacheBits = 0
    if (in.bits(1) == 1) {
      cacheBits = in.bits(4)
      if (cacheBits < 1 || cacheBits > 11) { return null }
    }
    // meta prefix tiling (level-0 only)
    var metaBits = 0
    var meta: Array[Int] = null
    var nGroups = 1
    if (level0 && in.bits(1) == 1) {
      metaBits = in.bits(3) + 2
      meta = decodeStream(in, subSampleSize(w, metaBits),
        subSampleSize(h, metaBits), level0 = false)
      if (meta == null) return null
      var mx = 0
      meta.foreach { p =>
        val idx = (p >> 8) & 0xffff
        if (idx > mx) mx = idx
      }
      nGroups = mx + 1
      if (nGroups > 1024) return null
    }
    if (in.bad) return null
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val alphabets = Array(256 + 24 + cacheSize, 256, 256, 256, 40)
    val groups = Array.fill(nGroups) {
      new Group(alphabets.map(a => readCode(in, a)))
    }
    if (in.bad) return null
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val px = new Array[Int](w * h)
    var pos = 0
    val total = w * h
    def groupAt(p: Int): Group =
      if (meta == null) groups(0)
      else {
        val x = p % w; val y = p / w
        val mw = subSampleSize(w, metaBits)
        val mp = meta((y >> metaBits) * mw + (x >> metaBits))
        val gi = (mp >> 8) & 0xffff
        groups(gi)
      }
    def remember(p: Int): Unit =
      if (cache != null) cache(hashPixel(p, cacheBits)) = p
    while (pos < total && !in.bad) {
      val g = groupAt(pos)
      val s = decodeSym(in, g.codes(0))
      if (s < 0) in.bad = true
      else if (s < 256) {
        val r = decodeSym(in, g.codes(1))
        val b = decodeSym(in, g.codes(2))
        val a = decodeSym(in, g.codes(3))
        if (r < 0 || b < 0 || a < 0) in.bad = true
        else {
          val p = (a << 24) | (r << 16) | (s << 8) | b
          px(pos) = p; remember(p); pos += 1
        }
      } else if (s < 280) {
        val len = prefixDecode(in, s - 256)
        val dSym = decodeSym(in, g.codes(4))
        if (dSym < 0) in.bad = true
        else {
          val dCode = prefixDecode(in, dSym)
          val dist = planeToDistance(w, dCode)
          if (dist > pos || pos + len > total) in.bad = true
          else {
            var i = 0
            while (i < len) {
              val p = px(pos - dist)
              px(pos) = p; remember(p); pos += 1; i += 1
            }
          }
        }
      } else {
        val ci = s - 280
        if (cache == null || ci >= cacheSize) in.bad = true
        else { px(pos) = cache(ci); pos += 1 }
      }
    }
    if (in.bad || pos < total) return null
    // inverse transforms, last-read first
    var out = px
    var cw = w
    transforms.reverseIterator.foreach { t =>
      out = t.kind match {
        case 0 => inversePredictor(out, cw, h, t)
        case 1 => inverseColor(out, cw, h, t)
        case 2 => inverseSubGreen(out)
        case _ =>
          val full = inversePalette(out, cw, h, t)
          cw = t.origW
          full
      }
      if (out == null) return null
    }
    out
  }

  // per-channel pixel add (mod 256)
  private def addPixels(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) + (b >>> 24)) & 0xff
    val rr = (((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff
    val gg = (((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff
    val bb = ((a & 0xff) + (b & 0xff)) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def subPixels(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) - (b >>> 24)) & 0xff
    val rr = (((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff
    val gg = (((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff
    val bb = ((a & 0xff) - (b & 0xff)) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def avg2(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) + (b >>> 24)) >> 1
    val rr = (((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1
    val gg = (((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1
    val bb = ((a & 0xff) + (b & 0xff)) >> 1
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(a: Int, b: Int, c: Int): Int = {
    def ch(sa: Int, sb: Int, sc: Int) = clamp255(sa + sb - sc)
    (ch(a >>> 24, b >>> 24, c >>> 24) << 24) |
      (ch((a >> 16) & 0xff, (b >> 16) & 0xff, (c >> 16) & 0xff) << 16) |
      (ch((a >> 8) & 0xff, (b >> 8) & 0xff, (c >> 8) & 0xff) << 8) |
      ch(a & 0xff, b & 0xff, c & 0xff)
  }

  private def clampAddSubtractHalf(ab: Int, c: Int): Int = {
    def ch(sab: Int, sc: Int) = clamp255(sab + (sab - sc) / 2)
    (ch(ab >>> 24, c >>> 24) << 24) |
      (ch((ab >> 16) & 0xff, (c >> 16) & 0xff) << 16) |
      (ch((ab >> 8) & 0xff, (c >> 8) & 0xff) << 8) |
      ch(ab & 0xff, c & 0xff)
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    def chs(p: Int, s: Int) = math.abs(p - s)
    val pa = (l >>> 24) + (t >>> 24) - (tl >>> 24)
    val pr = ((l >> 16) & 0xff) + ((t >> 16) & 0xff) - ((tl >> 16) & 0xff)
    val pg = ((l >> 8) & 0xff) + ((t >> 8) & 0xff) - ((tl >> 8) & 0xff)
    val pb = (l & 0xff) + (t & 0xff) - (tl & 0xff)
    val dl = chs(pa, l >>> 24) + chs(pr, (l >> 16) & 0xff) +
      chs(pg, (l >> 8) & 0xff) + chs(pb, l & 0xff)
    val dt = chs(pa, t >>> 24) + chs(pr, (t >> 16) & 0xff) +
      chs(pg, (t >> 8) & 0xff) + chs(pb, t & 0xff)
    if (dl <= dt) l else t
  }

  /** The 14 spatial predictors (spec §4.2). */
  private[graft] def predict(mode: Int, l: Int, t: Int, tr: Int,
                                  tl: Int): Int = mode match {
    case 0 => 0xff000000
    case 1 => l
    case 2 => t
    case 3 => tr
    case 4 => tl
    case 5 => avg2(avg2(l, tr), t)
    case 6 => avg2(l, tl)
    case 7 => avg2(l, t)
    case 8 => avg2(tl, t)
    case 9 => avg2(t, tr)
    case 10 => avg2(avg2(l, tl), avg2(t, tr))
    case 11 => select(l, t, tl)
    case 12 => clampAddSubtractFull(l, t, tl)
    case 13 => clampAddSubtractHalf(avg2(l, t), tl)
    case _ => 0xff000000
  }

  /** Predictor used at (x, y) given the tile image — edges override:
    * (0,0) black, first row L, first column T (spec §4.2). */
  private def predictAt(px: Array[Int], w: Int, x: Int, y: Int,
                        mode: Int): Int = {
    if (x == 0 && y == 0) 0xff000000
    else if (y == 0) px(x - 1) // L
    else if (x == 0) px((y - 1) * w) // T
    else {
      val l = px(y * w + x - 1)
      val t = px((y - 1) * w + x)
      val tl = px((y - 1) * w + x - 1)
      // TR reads linearly past the row end at x = w-1, landing on the
      // CURRENT row's first (already reconstructed) pixel — the
      // scan-order memory layout the format defines TR against
      val tr = px((y - 1) * w + x + 1)
      predict(mode, l, t, tr, tl)
    }
  }

  private def inversePredictor(px: Array[Int], w: Int, h: Int,
                               t: Transform): Array[Int] = {
    val tw = subSampleSize(w, t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mode =
          (t.data((y >> t.bits) * tw + (x >> t.bits)) >> 8) & 0xff
        if (mode > 13) return null
        px(y * w + x) =
          addPixels(px(y * w + x), predictAt(px, w, x, y, mode))
        x += 1
      }
      y += 1
    }
    px
  }

  /** (t * c) >> 5 over sign-extended int8 operands (spec §4.1). */
  private[graft] def colorDelta(t: Int, c: Int): Int =
    ((t.toByte.toInt * c.toByte.toInt) >> 5) & 0xff

  private def inverseColor(px: Array[Int], w: Int, h: Int,
                           t: Transform): Array[Int] = {
    val tw = subSampleSize(w, t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val e = t.data((y >> t.bits) * tw + (x >> t.bits))
        val g2r = e & 0xff
        val g2b = (e >> 8) & 0xff
        val r2b = (e >> 16) & 0xff
        val p = px(y * w + x)
        val g = (p >> 8) & 0xff
        val r = (((p >> 16) & 0xff) + colorDelta(g2r, g)) & 0xff
        val b = ((p & 0xff) + colorDelta(g2b, g) +
          colorDelta(r2b, r)) & 0xff
        px(y * w + x) = (p & 0xff000000) | (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    px
  }

  private def inverseSubGreen(px: Array[Int]): Array[Int] = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val g = (p >> 8) & 0xff
      val r = (((p >> 16) & 0xff) + g) & 0xff
      val b = ((p & 0xff) + g) & 0xff
      px(i) = (p & 0xff000000) | (r << 16) | (g << 8) | b
      i += 1
    }
    px
  }

  private def inversePalette(px: Array[Int], packedW: Int, h: Int,
                             t: Transform): Array[Int] = {
    val w = t.origW
    val pal = t.data
    val bpp = 8 >> t.bits // index bits per pixel
    val perPack = 1 << t.bits
    val mask = (1 << bpp) - 1
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val packed = (px(y * packedW + x / perPack) >> 8) & 0xff
        val idx = (packed >> ((x % perPack) * bpp)) & mask
        out(y * w + x) = if (idx < pal.length) pal(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode a WebP lossless (RIFF + VP8L) byte stream. None outside
    * the supported profile or on any malformed structure. */
  def decode(b: Array[Byte]): Option[Image] = {
    val payload = vp8lPayload(b).getOrElse(return None)
    if (payload._2 < 5) return None
    val in = new BitIn(b, payload._1, payload._1 + payload._2)
    if (in.bits(8) != 0x2f) return None
    val w = in.bits(14) + 1
    val h = in.bits(14) + 1
    in.bits(1) // alpha hint
    if (in.bits(3) != 0) return None
    if (w.toLong * h > MaxPixels) return None
    val px = decodeStream(in, w, h, level0 = true)
    if (px == null || in.bad) None else Some(Image(w, h, px))
  }

  /** (width, height, 4) from the headers alone. */
  def dims(b: Array[Byte]): Option[(Int, Int, Int)] = {
    val payload = vp8lPayload(b).getOrElse(return None)
    if (payload._2 < 5) return None
    val in = new BitIn(b, payload._1, payload._1 + payload._2)
    if (in.bits(8) != 0x2f) return None
    val w = in.bits(14) + 1
    val h = in.bits(14) + 1
    if (in.bad) None else Some((w, h, 4))
  }

  /** (offset, length) of the VP8L chunk payload. */
  private def vp8lPayload(b: Array[Byte]): Option[(Int, Int)] = {
    def tag(o: Int, s: String): Boolean =
      o + 4 <= b.length && s.indices.forall(i => b(o + i) == s.charAt(i))
    def u32(o: Int): Long =
      if (o + 4 > b.length) -1L
      else (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    if (!tag(0, "RIFF") || !tag(8, "WEBP")) return None
    var o = 12
    while (o + 8 <= b.length) {
      val len = u32(o + 4)
      if (len < 0 || o + 8 + len > b.length) return None
      if (tag(o, "VP8L")) return Some((o + 8, len.toInt))
      o += 8 + len.toInt + (len.toInt & 1)
    }
    None
  }

  // ---------------------------------------------------------- encode

  /** Encoder profiles. */
  val ModePlain = 0
  val ModeSubGreen = 1
  val ModePalette = 2
  /** Constant-element cross-color transform (g2r=16, g2b=8, r2b=4). */
  val ModeColor = 3
  /** `ModePredictor + id` (id 0..13): whole-image constant predictor. */
  val ModePredictor = 16

  /** Encode ARGB pixels as RIFF + VP8L. `mode` picks the transform
    * profile; palette mode requires ≤256 distinct colors. `cacheBits`
    * > 0 enables the color cache (cache hits replace literals);
    * `metaSplit` tiles the image into two column groups with their
    * own prefix codes (the meta-prefix machinery). */
  def encode(img: Image, mode: Int = ModePlain, cacheBits: Int = 0,
             metaSplit: Boolean = false): Array[Byte] = {
    val out = mutable.ArrayBuffer[Byte]()
    val bw = new BitOut(out)
    bw.put(0x2f, 8)
    bw.put(img.width - 1, 14)
    bw.put(img.height - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    var pixels = img.argb.clone()
    var w = img.width
    val h = img.height
    if (mode == ModeSubGreen) {
      bw.put(1, 1); bw.put(2, 2) // transform present: subtract-green
      var i = 0
      while (i < pixels.length) {
        val p = pixels(i)
        val g = (p >> 8) & 0xff
        val r = (((p >> 16) & 0xff) - g) & 0xff
        val b = ((p & 0xff) - g) & 0xff
        pixels(i) = (p & 0xff000000) | (r << 16) | (g << 8) | b
        i += 1
      }
    } else if (mode == ModeColor) {
      bw.put(1, 1); bw.put(1, 2) // transform present: cross-color
      var bits = 2
      while ((1 << bits) < math.max(w, h) && bits < 9) bits += 1
      require(subSampleSize(w, bits) == 1 && subSampleSize(h, bits) == 1,
        "color profile supports images up to 512x512")
      bw.put(bits - 2, 3)
      val (g2r, g2b, r2b) = (16, 8, 4)
      writeSubImage(bw,
        Array(0xff000000 | (r2b << 16) | (g2b << 8) | g2r))
      var i = 0
      while (i < pixels.length) {
        val p = pixels(i)
        val g = (p >> 8) & 0xff
        val r0 = (p >> 16) & 0xff
        val r = (r0 - colorDelta(g2r, g)) & 0xff
        val b = ((p & 0xff) - colorDelta(g2b, g) -
          colorDelta(r2b, r0)) & 0xff
        pixels(i) = (p & 0xff000000) | (r << 16) | (g << 8) | b
        i += 1
      }
    } else if (mode >= ModePredictor) {
      val id = mode - ModePredictor
      require(id >= 0 && id <= 13, s"predictor id $id")
      bw.put(1, 1); bw.put(0, 2) // transform present: predictor
      // one tile covering the whole image: size_bits = 9 (max block
      // 512) unless the image is larger — pick bits to cover
      var bits = 2
      while ((1 << bits) < math.max(w, h) && bits < 9) bits += 1
      require(subSampleSize(w, bits) == 1 && subSampleSize(h, bits) == 1,
        "predictor profile supports images up to 512x512")
      bw.put(bits - 2, 3)
      writeSubImage(bw, Array(0xff000000 | (id << 8)))
      // forward: residual = pixel - predict (scan order, using the
      // ORIGINAL pixels as context, exactly what inverse rebuilds)
      val res = new Array[Int](pixels.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          res(y * w + x) = subPixels(pixels(y * w + x),
            predictAt(pixels, w, x, y, id))
          x += 1
        }
        y += 1
      }
      pixels = res
    } else if (mode == ModePalette) {
      val pal = mutable.LinkedHashMap[Int, Int]()
      img.argb.foreach(p => if (!pal.contains(p)) pal(p) = pal.size)
      require(pal.size <= 256, "palette mode needs <= 256 colors")
      val n = pal.size
      bw.put(1, 1); bw.put(3, 2) // transform present: color indexing
      bw.put(n - 1, 8)
      val palArr = pal.keys.toArray
      // palette is transmitted delta-coded per channel
      val deltas = palArr.indices.map(i =>
        if (i == 0) palArr(0) else subPixels(palArr(i), palArr(i - 1)))
      writeSubImage(bw, deltas.toArray)
      val pb = if (n <= 2) 3 else if (n <= 4) 2
        else if (n <= 16) 1 else 0
      val perPack = 1 << pb
      val bpp = 8 >> pb
      val pw = subSampleSize(w, pb)
      val packed = new Array[Int](pw * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val idx = pal(img.argb(y * w + x))
          val slot = y * pw + x / perPack
          val g = ((packed(slot) >> 8) & 0xff) |
            (idx << ((x % perPack) * bpp))
          packed(slot) = 0xff000000 | ((g & 0xff) << 8)
          x += 1
        }
        y += 1
      }
      pixels = packed
      w = pw
    }
    bw.put(0, 1) // no more transforms
    // color cache
    if (cacheBits > 0) {
      require(cacheBits >= 1 && cacheBits <= 11, "cache bits 1..11")
      bw.put(1, 1); bw.put(cacheBits, 4)
    } else bw.put(0, 1)
    // meta prefix tiling: two column tiles, each its own code group
    var metaBits = -1
    if (metaSplit) {
      metaBits = 2
      while ((1 << (metaBits + 1)) < w) metaBits += 1
      require(subSampleSize(w, metaBits) == 2 &&
        subSampleSize(h, metaBits) == 1 && metaBits <= 9,
        s"meta split needs 5..512 wide, height <= ${1 << metaBits}")
      bw.put(1, 1)
      bw.put(metaBits - 2, 3)
      // meta image 2x1: tile 0 -> group 0, tile 1 -> group 1
      // (group index = (red << 8) | green of the meta pixel)
      writeSubImage(bw, Array(0xff000000, 0xff000100))
    } else bw.put(0, 1)
    writeGroupsAndData(bw, pixels, w, cacheBits, metaBits)
    bw.flush()
    riffWrap(out.toArray)
  }

  /** A transform/entropy sub-image: no transforms, no cache, no meta —
    * just one group of literal codes. */
  private def writeSubImage(bw: BitOut, px: Array[Int]): Unit = {
    bw.put(0, 1) // no color cache
    writeGroupsAndData(bw, px, px.length, 0, -1)
  }

  private sealed trait Tok
  private final case class Lit(p: Int) extends Tok
  private final case class Hit(idx: Int) extends Tok
  private final case class Copy(len: Int, distCode: Int) extends Tok

  private def writeGroupsAndData(bw: BitOut, px: Array[Int], w: Int,
                                 cacheBits: Int, metaBits: Int): Unit = {
    // LZ77: left runs (plane code 2 = (1,0)) and above runs (plane
    // code 1 = (0,1)); cache hits where enabled; else literals. Runs
    // never span a meta-tile boundary (each token's group is the one
    // at its START pixel; keeping runs inside a tile keeps the group
    // bookkeeping exact without changing semantics).
    val nGroups = if (metaBits >= 0) 2 else 1
    def groupOf(pos: Int): Int =
      if (metaBits < 0) 0 else ((pos % w) >> metaBits) & 1
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val live = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def remember(p: Int): Unit = if (cache != null) {
      val h = hashPixel(p, cacheBits)
      cache(h) = p; live(h) = true
    }
    val toks = mutable.Buffer[(Int, Tok)]() // (group, token)
    var i = 0
    while (i < px.length) {
      val g = groupOf(i)
      def tileEnd(from: Int): Int = // first pos after `from` in another tile
        if (metaBits < 0) px.length
        else {
          var e = from
          while (e < px.length && groupOf(e) == g) e += 1
          e
        }
      var run = 0
      if (i > 0 && px(i) == px(i - 1)) {
        val stop = math.min(tileEnd(i), i + 4096)
        while (i + run < stop && px(i + run) == px(i + run - 1)) run += 1
        toks += ((g, Copy(run, 2)))
        (i until i + run).foreach(j => remember(px(j)))
        i += run
      } else if (i >= w && px(i) == px(i - w)) {
        val stop = math.min(tileEnd(i), i + 4096)
        while (i + run < stop && px(i + run) == px(i + run - w)) run += 1
        toks += ((g, Copy(run, 1)))
        (i until i + run).foreach(j => remember(px(j)))
        i += run
      } else {
        val p = px(i)
        val h = if (cache != null) hashPixel(p, cacheBits) else -1
        if (cache != null && live(h) && cache(h) == p)
          toks += ((g, Hit(h)))
        else { toks += ((g, Lit(p))); remember(p) }
        i += 1
      }
    }
    // per-group frequencies
    val greenAlpha = 256 + 24 + cacheSize
    val fg = Array.fill(nGroups)(new Array[Long](greenAlpha))
    val fr = Array.fill(nGroups)(new Array[Long](256))
    val fb = Array.fill(nGroups)(new Array[Long](256))
    val fa = Array.fill(nGroups)(new Array[Long](256))
    val fd = Array.fill(nGroups)(new Array[Long](40))
    toks.foreach {
      case (g, Lit(p)) =>
        fg(g)((p >> 8) & 0xff) += 1
        fr(g)((p >> 16) & 0xff) += 1
        fb(g)(p & 0xff) += 1
        fa(g)(p >>> 24) += 1
      case (g, Hit(idx)) => fg(g)(280 + idx) += 1
      case (g, Copy(len, dc)) =>
        fg(g)(256 + prefixEncode(len)._1) += 1
        fd(g)(prefixEncode(dc)._1) += 1
    }
    val codes = (0 until nGroups).map { g =>
      Array(fg(g), fr(g), fb(g), fa(g), fd(g)).map { f =>
        val lens = huffLengths(f, 15)
        writeCode(bw, lens, f)
        // a code serialized in the 1-symbol SIMPLE form costs ZERO
        // data bits (the reader never consumes for it) — blank its
        // length so putSym emits nothing; the CL-coded 1-symbol case
        // (symbol ≥ 256) keeps its real 1-bit code
        val used = lens.indices.filter(lens(_) > 0)
        if (used.size == 1 && used.head < 256)
          canonicalCodes(new Array[Int](lens.length))
        else canonicalCodes(lens)
      }
    }
    toks.foreach {
      case (g, Lit(p)) =>
        putSym(bw, codes(g)(0), (p >> 8) & 0xff)
        putSym(bw, codes(g)(1), (p >> 16) & 0xff)
        putSym(bw, codes(g)(2), p & 0xff)
        putSym(bw, codes(g)(3), p >>> 24)
      case (g, Hit(idx)) =>
        putSym(bw, codes(g)(0), 280 + idx)
      case (g, Copy(len, dc)) =>
        val (ls, leb, lev) = prefixEncode(len)
        putSym(bw, codes(g)(0), 256 + ls)
        bw.put(lev, leb)
        val (ds, deb, dev) = prefixEncode(dc)
        putSym(bw, codes(g)(4), ds)
        bw.put(dev, deb)
    }
  }

  private def putSym(bw: BitOut, codes: Array[(Int, Int)],
                     s: Int): Unit = {
    val (c, l) = codes(s)
    if (l > 0) bw.putCode(c, l)
    // single-symbol codes cost zero bits by construction
  }

  /** Serialize one prefix code: simple form when it fits, else the
    * code-length-coded form with zero-run tokens + max-symbol cap. */
  private def writeCode(bw: BitOut, lens: Array[Int],
                        freq: Array[Long]): Unit = {
    val used = lens.indices.filter(lens(_) > 0)
    if (used.isEmpty) {
      // degenerate: no symbol of this channel ever coded (e.g. pure
      // copy streams). Emit a 1-symbol simple code for symbol 0.
      bw.put(1, 1); bw.put(0, 1); bw.put(0, 1); bw.put(0, 1)
      return
    }
    if (used.size == 1 && used.head < 256) {
      bw.put(1, 1) // simple
      bw.put(0, 1) // one symbol
      val s = used.head
      if (s < 2) { bw.put(0, 1); bw.put(s, 1) }
      else { bw.put(1, 1); bw.put(s, 8) }
      return
    }
    if (used.size == 2 && used(1) < 256) {
      bw.put(1, 1) // simple
      bw.put(1, 1) // two symbols
      val s0 = used(0); val s1 = used(1)
      if (s0 < 2) { bw.put(0, 1); bw.put(s0, 1) }
      else { bw.put(1, 1); bw.put(s0, 8) }
      bw.put(s1, 8)
      return
    }
    bw.put(0, 1) // code-length-coded
    // tokens: literals + zero runs (17/18), no 16
    val toks = mutable.Buffer[(Int, Int, Int)]() // (sym, extraBits, extraVal)
    var i = 0
    while (i <= used.last) {
      if (lens(i) != 0) { toks += ((lens(i), 0, 0)); i += 1 }
      else {
        var z = 0
        while (i + z <= used.last && lens(i + z) == 0) z += 1
        var rem = z
        while (rem > 0) {
          if (rem < 3) { (0 until rem).foreach(_ => toks += ((0, 0, 0))); rem = 0 }
          else if (rem <= 10) { toks += ((17, 3, rem - 3)); rem = 0 }
          else {
            val take = math.min(rem, 138)
            if (rem - take != 0 && rem - take < 3) {
              val t2 = rem - 3 // leave a legal tail
              toks += ((18, 7, math.min(t2, 138) - 11)); rem -= math.min(t2, 138)
            } else { toks += ((18, 7, take - 11)); rem -= take }
          }
        }
        i += z
      }
    }
    val clFreq = new Array[Long](19)
    toks.foreach { case (s, _, _) => clFreq(s) += 1 }
    var clLens = huffLengths(clFreq, 7)
    // the CL code itself must not be a 1-symbol code the reader can't
    // resolve: a single CL symbol gets length 1 (incomplete codes are
    // tolerated by our reader but give it a sibling anyway)
    if (clLens.count(_ > 0) == 1) {
      val s = clLens.indexWhere(_ > 0)
      clLens = clLens.clone()
      clLens(if (s == 0) 1 else 0) = 1
      clLens(s) = 1
    }
    // number of CL lengths to transmit: enough kOrder positions to
    // cover every used CL symbol
    var nCl = 19
    while (nCl > 4 && clLens(ClOrder(nCl - 1)) == 0) nCl -= 1
    bw.put(nCl - 4, 4)
    (0 until nCl).foreach(k => bw.put(clLens(ClOrder(k)), 3))
    // max-symbol cap = token count
    val tokCount = toks.size
    bw.put(1, 1)
    var lnb = 2
    while ((1 << lnb) < tokCount - 1 && lnb < 16) lnb += 2
    // length_nbits is encoded as (lnb - 2) / 2 in 3 bits
    bw.put((lnb - 2) / 2, 3)
    bw.put(tokCount - 2, lnb)
    val clCodes = canonicalCodes(clLens)
    toks.foreach { case (s, eb, ev) =>
      val (c, l) = clCodes(s)
      bw.putCode(c, l)
      if (eb > 0) bw.put(ev, eb)
    }
  }

  private def riffWrap(payload: Array[Byte]): Array[Byte] = {
    val padded = if (payload.length % 2 == 1) payload :+ 0.toByte
      else payload
    val out = mutable.ArrayBuffer[Byte]()
    def u32(v: Int): Unit = (0 to 24 by 8).foreach(s => out += (v >> s).toByte)
    out ++= "RIFF".getBytes
    u32(4 + 8 + padded.length)
    out ++= "WEBP".getBytes
    out ++= "VP8L".getBytes
    u32(payload.length)
    out ++= padded
    out.toArray
  }
}
