package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Longest-prefix-match lookup — the enrichment join pmacct does against the
  * networks_file table and the BGP RIB (`search_src_host`
  * src/net_aggr.c:895, `bgp_srcdst_lookup` src/bgp/bgp_lookup.c:33).
  *
  * Spark has no LPM operator, so this is the engine's first custom Catalyst
  * piece (SURVEY §4 "custom Catalyst inventory"). One [[Lpm.Table]] serves
  * every address family: keys are 128 bits wide, as two big-endian 64-bit
  * limbs (hi, lo), and a `width`-bit address (IPv4, or a keyed product
  * space such as (peer, ip)) is left-aligned into the high limb. Each mask
  * length holds its keys sorted in primitive `long[]` arrays and is
  * binary-searched, as pmacct's `binsearch` searches its sorted networks
  * table (src/net_aggr.c:390-499); lengths are probed longest first.
  *
  * Two physical strategies:
  *
  *  1. [[LpmLookup]] — a native `Expression` holding the prefix table.
  *    O(#distinct masks × log prefixes) per row, participates in
  *    whole-stage codegen via `doGenCode`, NO join and NO shuffle: the
  *    table ships inside the serialized plan, like a broadcast, and its
  *    primitive arrays (de)serialize in bulk. Right whenever the prefix
  *    table fits in memory (networks_file and full-internet RIBs — ~1M
  *    prefixes ≈ tens of MB — both do). `lpm` and `lpm6` are its narrow
  *    and two-limb spellings.
  *
  *  2. [[Lpm.joinLongestMatch]] — chained broadcast LEFT joins, one per
  *    distinct mask length (longest first), coalesced first-match. Stays
  *    fully declarative (Catalyst sees ordinary joins) for when the dim
  *    must live as a table (e.g. time-versioned RIB in Delta) or carries
  *    string or multi-column values. Also shuffle-free: every join side
  *    is broadcast.
  */
object Lpm {

  /** `bits` leading ones of a 64-bit limb (0 and 64 saturate). */
  private def ones(bits: Int): Long =
    if (bits <= 0) 0L else if (bits >= 64) -1L else -1L << (64 - bits)

  /** One mask length's prefixes: the length's (hi, lo) masks, and the
    * masked keys sorted by (hi, lo) with their values in the same order. */
  private final class Level(hiMask: Long, loMask: Long, his: Array[Long],
                            los: Array[Long], values: Array[Long])
      extends Serializable {
    /** Value under the masked address, or Long.MinValue. */
    def get(hi: Long, lo: Long): Long = {
      val h = hi & hiMask
      val l = lo & loMask
      var a = 0
      var b = his.length - 1
      while (a <= b) {
        val m = (a + b) >>> 1
        val c = if (his(m) != h) java.lang.Long.compare(his(m), h)
          else java.lang.Long.compare(los(m), l)
        if (c < 0) a = m + 1
        else if (c > 0) b = m - 1
        else return values(m)
      }
      Long.MinValue
    }
  }

  private def level(len: Int, entries: Seq[(Long, Long, Long)]): Level = {
    val (hm, lm) = (ones(len), ones(len - 64))
    // a repeated key keeps its last value, as a map insert would
    val sorted = entries.reverseIterator
      .map { case (h, l, v) => (h & hm, l & lm, v) }
      .toSeq.distinctBy(e => (e._1, e._2)).sortBy(e => (e._1, e._2))
    new Level(hm, lm, sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      sorted.map(_._3).toArray)
  }

  /** Immutable LPM table over a `width`-bit address space: `width` is
    * 1..64 for a narrow address, 128 for IPv6. Build narrow tables with
    * `new Table(width, Seq((base, len, value)))` and v6 tables with
    * [[Table.v6]] (a second `Seq`-of-tuples constructor would erase to the
    * same signature). Long.MinValue is the miss sentinel, so it cannot be
    * a value. */
  final class Table private (val width: Int,
                             keyed: Array[(Long, Long, Int, Long)])
      extends Serializable {
    require(width >= 1 && width <= 64 || width == 128,
      s"LPM width must be 1..64 or 128, got $width")
    keyed.foreach { case (_, _, len, v) =>
      require(len >= 0 && len <= width,
        s"prefix length $len outside 0..$width")
      require(v != Long.MinValue, "Long.MinValue is the miss sentinel")
    }
    /** One level per distinct mask length, longest first. */
    private val levels: Array[Level] = keyed.groupBy(_._3).toArray
      .sortBy(-_._1)
      .map { case (len, ps) =>
        level(len, ps.toSeq.map { case (h, l, _, v) => (h, l, v) })
      }

    /** Narrow table of (base, len, value); every base lies in
      * [0, 2^width). */
    def this(width: Int, prefixes: Seq[(Long, Int, Long)]) =
      this(width, Table.leftAligned(width, prefixes))

    /** Longest-match value for the 128-bit key (hi, lo), or Long.MinValue
      * on a miss. */
    def lookup(hi: Long, lo: Long): Long = {
      var i = 0
      while (i < levels.length) {
        val v = levels(i).get(hi, lo)
        if (v != Long.MinValue) return v
        i += 1
      }
      Long.MinValue
    }

    /** Longest-match value for a `width`-bit address (width ≤ 64), or
      * Long.MinValue on a miss; negative and too-wide addresses miss. */
    def lookup(ip: Long): Long =
      if (width < 64 && (ip >>> width) != 0) Long.MinValue
      else lookup(ip << (64 - width), 0L)
  }

  object Table {
    private def leftAligned(width: Int, prefixes: Seq[(Long, Int, Long)])
        : Array[(Long, Long, Int, Long)] = {
      require(width <= 64, s"a $width-bit table is built with Table.v6")
      prefixes.map { case (base, len, v) =>
        require(width == 64 || (base >>> width) == 0,
          s"base $base outside the $width-bit address space")
        (base << (64 - width), 0L, len, v)
      }.toArray
    }

    /** 128-bit table of (hi, lo, len, value), the address as two
      * big-endian limbs — the v6 walk pmacct runs in
      * `bgp_srcdst_lookup`/`bgp_node_match_ipv6` (src/bgp/bgp_lookup.c). */
    def v6(prefixes: Seq[(Long, Long, Int, Long)]): Table =
      new Table(128, prefixes.toArray)
  }

  /** Column API: `lpm(col("ip_dst"), table)` → matched value or NULL. */
  def lpm(ip: Column, table: Table): Column =
    ColumnBridge.column(LpmLookup(Seq(ColumnBridge.expression(ip)), table))

  /** Column API over the two-limb v6 address: matched value or NULL. */
  def lpm6(hi: Column, lo: Column, table: Table): Column =
    ColumnBridge.column(LpmLookup(
      Seq(ColumnBridge.expression(hi), ColumnBridge.expression(lo)), table))

  /** Strategy 2: longest-match via one broadcast LEFT join per distinct
    * mask length, coalesced longest-first. `dim` must have columns
    * (base, len); `valueCols` are the dim columns to carry over.
    */
  def joinLongestMatch(df: DataFrame, dim: DataFrame, ip: Column,
                       lens: Seq[Int], width: Int, valueCols: Seq[String],
                       out: String => String = identity): DataFrame = {
    val lensDesc = lens.sorted(Ordering.Int.reverse)
    val joined = lensDesc.foldLeft(df) { (acc, len) =>
      val d = dim.filter(col("len") === len)
        .select(col("base") +: valueCols.map(c =>
          col(c).as(s"__${c}_$len")): _*)
      val shift = width - len
      val masked = if (shift >= 64) lit(0L)
        else shiftleft(shiftright(ip, shift), shift)
      acc.join(broadcast(d), masked === col("base"), "left").drop("base")
    }
    valueCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(out(c),
        coalesce(lensDesc.map(l => col(s"__${c}_$l")): _*))
    }.drop(valueCols.flatMap(c => lensDesc.map(l => s"__${c}_$l")): _*)
  }
}

/** Native LPM expression: the address columns (one LongType column for a
  * narrow table, (hi, lo) for a 128-bit one) → longest-match value, NULL
  * on a miss or a NULL address. The table rides inside the plan (one copy
  * per executor), and `doGenCode` keeps the lookup inside whole-stage
  * codegen.
  */
case class LpmLookup(children: Seq[Expression], table: Lpm.Table)
    extends Expression with ImplicitCastInputTypes {
  require(children.size == (if (table.width > 64) 2 else 1),
    "a narrow LPM table takes one address column, a 128-bit one (hi, lo);" +
      s" this ${table.width}-bit table got ${children.size}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "lpm_lookup"
  // analyzer casts narrower integral SQL literals/columns up to long
  // (type inferred: AbstractDataType is private[sql])
  override def inputTypes = children.map(_ => LongType)

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    if (args.contains(null)) null
    else {
      val a0 = args(0).asInstanceOf[Long]
      val r = if (args.size == 1) table.lookup(a0)
        else table.lookup(a0, args(1).asInstanceOf[Long])
      if (r == Long.MinValue) null else r
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("lpmTable", table,
      classOf[Lpm.Table].getName)
    val args = children.map(_.genCode(ctx))
    // fresh local per expression instance — two lookups fused into one
    // whole-stage-codegen scope must not collide on the variable name
    val r = ctx.freshName("lpmR")
    ev.copy(code = code"""
      ${blocksToBlock(args.map(_.code))}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!(${args.map(_.isNull).mkString(" || ")})) {
        long $r = $tableRef.lookup(${args.map(_.value).mkString(", ")});
        if ($r != Long.MIN_VALUE) {
          ${ev.isNull} = false;
          ${ev.value} = $r;
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LpmLookup =
    copy(children = newChildren)
}
