package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Lpm

class EnrichSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val prefixes = Seq(
    (0L, 1, 100L),      // 0..32767 /1
    (0L, 4, 101L),      // 0..4095 /4 — longer, wins inside
    (32768L, 2, 200L))  // 32768..49151 /2

  test("Lpm.Table longest match wins, miss is sentinel") {
    val t = new Lpm.Table(16, prefixes)
    assert(t.lookup(10L) == 101L)     // inside /4
    assert(t.lookup(5000L) == 100L)   // /1 only
    assert(t.lookup(33000L) == 200L)
    assert(t.lookup(60000L) == Long.MinValue) // uncovered
  }

  test("LpmLookup expression: codegen path matches interpreted eval") {
    val t = new Lpm.Table(16, prefixes)
    val df = Seq(10L, 5000L, 33000L, 60000L).toDF("ip")
      .withColumn("asn", Lpm.lpm(col("ip"), t))
    val got = df.select("ip", "asn").as[(Long, Option[Long])]
      .collect().toMap
    assert(got == Map(10L -> Some(101L), 5000L -> Some(100L),
      33000L -> Some(200L), 60000L -> None))
  }

  test("Table6: masks straddling the 64-bit limb boundary, longest-first") {
    val base = 0x2001L << 48
    val t6 = Lpm.Table.v6(Seq(
      (base, 0L, 16, 1L),                       // /16 default-ish
      (base | (5L << 40), 0L, 24, 2L),          // /24 inside hi
      (base | (5L << 40), 0L, 64, 3L),          // exactly one limb
      (base | (5L << 40), 0xAB00L << 48, 72, 4L), // /72: 8 bits into lo
      (base | (5L << 40), (0xAB00L << 48) | (0x12L << 32), 96, 5L)))
    // /96 wins over /72, /64, /24, /16 for the fully matching address
    assert(t6.lookup(base | (5L << 40),
      (0xAB00L << 48) | (0x12L << 32) | 999L) == 5L)
    // /72 when the /96 bits differ
    assert(t6.lookup(base | (5L << 40),
      (0xAB00L << 48) | (0x99L << 32)) == 4L)
    // /64 when lo's top byte differs
    assert(t6.lookup(base | (5L << 40), 0x1111L) == 3L)
    // /24 only matches if lo-limb prefixes miss... same hi → /64 wins
    assert(t6.lookup(base | (5L << 40) | 7L, 0L) == 2L) // hi differs in low bits → /24
    assert(t6.lookup(base | (9L << 40), 0L) == 1L)      // /16 fallback
    assert(t6.lookup(0x3001L << 48, 0L) == Long.MinValue)
  }

  test("LpmLookup6 expression: codegen matches table lookup") {
    val base = 0x2001L << 48
    val t6 = Lpm.Table.v6(Seq(
      (base, 0L, 24, 10L), (base, 0xFF00L << 48, 72, 20L)))
    val rows = Seq((base, 0xFF00L << 48), (base | 1L, 0L),
      (0x3001L << 48, 0L))
    val df = rows.toDF("hi", "lo")
      .withColumn("v", Lpm.lpm6(col("hi"), col("lo"), t6))
    val got = df.select("hi", "lo", "v")
      .as[(Long, Long, Option[Long])].collect()
    rows.zip(got).foreach { case ((hi, lo), (ghi, glo, gv)) =>
      val exp = t6.lookup(hi, lo)
      assert(ghi == hi && glo == lo &&
        gv == (if (exp == Long.MinValue) None else Some(exp)))
    }
    assert(got.map(_._3).toSeq == Seq(Some(20L), Some(10L), None))
  }

  test("joinLongestMatch equals expression strategy") {
    val dim = prefixes.toDF("base", "len", "asn")
    val ips = Seq(10L, 5000L, 33000L, 60000L).toDF("ip")
    val viaJoin = Lpm.joinLongestMatch(ips, dim, col("ip"),
      Seq(1, 2, 4), 16, Seq("asn"))
      .select("ip", "asn").as[(Long, Option[Long])].collect().toMap
    val t = new Lpm.Table(16, prefixes)
    val viaExpr = ips.withColumn("asn", Lpm.lpm(col("ip"), t))
      .select("ip", "asn").as[(Long, Option[Long])].collect().toMap
    assert(viaJoin == viaExpr)
  }

  /** Longest match by linear scan over (key, len, value) with keys as
    * unsigned `bits`-wide integers: a repeated (key, len) keeps its last
    * value; None on a miss. */
  private def bruteForce(bits: Int, table: Seq[(BigInt, Int, Long)],
                         addr: BigInt): Option[Long] =
    if (addr < 0 || addr >= (BigInt(1) << bits)) None
    else table.zipWithIndex
      .filter { case ((k, len, _), _) =>
        (k >> (bits - len)) == (addr >> (bits - len)) }
      .maxByOption { case ((_, len, _), i) => (len, i) }
      .map(_._1._3)

  test("property: Table equals a brute-force longest-match scan") {
    val rnd = new java.util.SplittableRandom(20261017L)
    def u64(x: Long) = BigInt(x) & ((BigInt(1) << 64) - 1)
    def got(r: Long) = if (r == Long.MinValue) None else Some(r)
    for (width <- Seq(16, 17, 32); seed <- 0 until 20) {
      val n = 1 + rnd.nextInt(40)
      val ps = (0 until n).map { _ =>
        val len = rnd.nextInt(width + 1)
        val base = rnd.nextLong(1L << width)
        (base, len, rnd.nextLong(1000L))
      }
      // repeated prefixes with a fresh value: the last one wins
      val withDups = ps ++ ps.take(3).map { case (b, l, _) => (b, l, 7777L) }
      val t = new Lpm.Table(width, withDups)
      val spec = withDups.map { case (b, l, v) => (BigInt(b), l, v) }
      val near = withDups.map { case (b, l, _) =>
        b + rnd.nextLong(1L << (width - l)) }
      val addrs = near ++ Seq.fill(40)(rnd.nextLong(1L << width)) ++
        Seq(0L, (1L << width) - 1, 1L << width, (1L << width) + near.head,
          -1L, -near.head - 1, Long.MinValue, Long.MaxValue)
      addrs.foreach { a =>
        assert(got(t.lookup(a)) == bruteForce(width, spec, BigInt(a)),
          s"width $width seed $seed addr $a")
      }
    }
    // 128-bit form: lengths cluster around the limb boundary
    val lens6 = Seq(0, 1, 16, 24, 48, 63, 64, 65, 72, 96, 127, 128)
    for (seed <- 0 until 20) {
      val ps = (0 until 1 + rnd.nextInt(40)).map { _ =>
        (rnd.nextLong(), rnd.nextLong(),
          lens6(rnd.nextInt(lens6.size)), rnd.nextLong(1000L))
      }
      val t = Lpm.Table.v6(ps)
      val spec = ps.map { case (h, l, len, v) =>
        ((u64(h) << 64) | u64(l), len, v) }
      // flip one bit just past (or inside) a prefix to probe both sides
      val addrs = ps.flatMap { case (h, l, len, _) =>
        val bit = math.min(127, len + rnd.nextInt(3) - 1).max(0)
        val flipped = if (bit < 64) (h ^ (1L << (63 - bit)), l)
          else (h, l ^ (1L << (127 - bit)))
        Seq((h, l), flipped)
      } ++ Seq.fill(20)((rnd.nextLong(), rnd.nextLong()))
      addrs.foreach { case (h, l) =>
        assert(got(t.lookup(h, l)) ==
          bruteForce(128, spec, (u64(h) << 64) | u64(l)),
          s"v6 seed $seed addr ($h, $l)")
      }
    }
  }

  test("Table rejects prefixes outside its address space") {
    Seq((1L << 16, 1), (0L, 17), (-1L, 4)).foreach { case (base, len) =>
      intercept[IllegalArgumentException](
        new Lpm.Table(16, Seq((base, len, 1L))))
    }
    intercept[IllegalArgumentException](
      Lpm.Table.v6(Seq((0L, 0L, 129, 1L))))
    // a narrow table takes one address column, a 128-bit one two
    val t6 = Lpm.Table.v6(Seq((0L, 0L, 0, 1L)))
    intercept[IllegalArgumentException](Lpm.lpm(col("ip"), t6))
    intercept[IllegalArgumentException](
      Lpm.lpm6(col("hi"), col("lo"), new Lpm.Table(16, prefixes)))
  }

  test("keyed LPM over (peer, ip) product space isolates peers") {
    // peer 0 routes everything to 1; peer 1 only lower half to 2
    val t = new Lpm.Table(17, Seq(
      (0L, 1, 1L),             // peer 0, /0 over ip space
      (65536L, 2, 2L)))        // peer 1, ip 0..32767
    assert(t.lookup(0L * 65536 + 40000) == 1L)
    assert(t.lookup(1L * 65536 + 40000) == Long.MinValue)
    assert(t.lookup(1L * 65536 + 100) == 2L)
  }
}
