package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temporal bin (`*_history`, CONFIG-KEYS:1419-1432; evaluated per record in
  * `P_eval_historical_acct`, src/plugin_common.c:983-1010). Bins are aligned
  * to the epoch the way pmacct aligns to roundoff boundaries.
  */
sealed trait History {
  /** Bin start in epoch seconds from a TimestampType column. */
  def binOfTs(ts: Column): Column
  /** Bin start in epoch seconds from an epoch-microseconds column. */
  def binOfMicros(us: Column): Column
}

final case class SecondsHistory(seconds: Long) extends History {
  private val usPerBin = seconds * 1000000L
  def binOfTs(ts: Column): Column = binOfMicros(unix_micros(ts))
  def binOfMicros(us: Column): Column = {
    // exact integer bin: (us - us % B) is a multiple of B <= 2^53, so the
    // double division below is exact (documented; avoids SQL-string `div`).
    ((us - (us % usPerBin)) / usPerBin).cast("long") * seconds
  }
}

/** Calendar-aligned bins (m/h/d/w/M roundoff, CONFIG-KEYS:1419-1432). */
final case class CalendarHistory(unit: String) extends History {
  def binOfTs(ts: Column): Column = unix_timestamp(date_trunc(unit, ts))
  def binOfMicros(us: Column): Column = binOfTs(timestamp_micros(us))
}

/** A parsed pmacct plugin aggregation: the Spark-side equivalent of one
  * `aggregate: k1,k2,...` + filters + history + preprocess config
  * (docs/INTERNALS:23-38). Planned as a single declarative
  * filter→project→groupBy→agg→having chain so Catalyst gets full freedom
  * (partial agg, column pruning into the parquet scan, AQE).
  */
final case class FlowPlan(
    keys: Seq[(String, Column)],
    counters: Seq[(String, Column)],
    filter: Option[Column] = None,
    history: Option[(String, Column)] = None, // output name -> bin expr
    havings: Seq[Column] = Nil)

object AggregatePlanner {

  /** pmacct's fixed counter set (struct pkt_data, src/network.h:483-493):
    * SUM(bytes), SUM(packets), bit_or(tcp_flags), flow count, and the
    * stitching min/max (P_set_stitch, src/plugin_common.c:1080-1097).
    */
  def flowCounters(bytes: Column, packets: Column, tcpFlags: Column,
                   t0u: Column, t1u: Column): Seq[(String, Column)] = Seq(
    "bytes" -> sum(bytes),
    "packets" -> sum(packets),
    "flows" -> count(lit(1)),
    "tcp_flags" -> bit_or(tcpFlags),
    "ts_min_us" -> min(t0u),
    "ts_max_us" -> max(t1u))

  def plan(df: DataFrame, p: FlowPlan): DataFrame = {
    val filtered = p.filter.map(df.filter).getOrElse(df)
    val keyCols = p.history.map { case (n, c) => c.as(n) }.toSeq ++
      p.keys.map { case (n, c) => c.as(n) }
    val aggCols = p.counters.map { case (n, c) => c.as(n) }
    val grouped =
      if (keyCols.isEmpty) filtered.groupBy()
      else filtered.groupBy(keyCols: _*)
    val agged = grouped.agg(aggCols.head, aggCols.tail: _*)
    p.havings.foldLeft(agged)((d, h) => d.filter(h))
  }

  /** DOUBLE counter → integer units of 10^-digits, as LONG.
    *
    * The portable way to sum doubles reproducibly: IEEE-754 multiply and
    * `floor` are bit-deterministic and produce identical results in every
    * engine (Spark, DuckDB, ...), and LONG addition is exactly associative,
    * so the sum is independent of shuffle order AND engine. Avoids
    * double→DECIMAL casts entirely — those carry an engine-specific
    * rounding mode (Spark HALF_UP via BigDecimal.valueOf's shortest-decimal
    * repr; DuckDB round-half-even on the binary value) and diverge on
    * half-ULP boundaries.
    */
  def scaled(c: Column, digits: Int): Column =
    floor(c * math.pow(10, digits).toLong)

  /** Shuffle-order-independent, engine-portable sum of a DOUBLE counter in
    * integer units of 10^-digits. Oracle-side equivalent:
    * `CAST(sum(CAST(floor(c * 10^digits) AS BIGINT)) AS BIGINT)`. */
  def sumScaled(c: Column, digits: Int): Column = sum(scaled(c, digits))
}
