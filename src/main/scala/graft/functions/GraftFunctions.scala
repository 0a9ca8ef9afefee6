package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.{Lpm, LpmLookup}

/** SQL-surface registration of the graft function library (SURVEY §2.11
  * + §4): every formatter becomes a native Catalyst function callable
  * from `spark.sql(...)`, and `graft_lpm(ip, 'table')` exposes the LPM
  * expression against named, pre-registered prefix tables.
  *
  * Two injection paths:
  *  - [[GraftExtensions]] for sessions built with
  *    `.withExtensions(new GraftExtensions)` (config-driven deployments:
  *    `spark.sql.extensions=graft.functions.GraftExtensions`);
  *  - [[GraftFunctions.register]] for an existing session (the driver
  *    hands us one).
  *
  * Formatter functions are built by parsing the SAME SQL templates the
  * DataFrame API uses ([[Formatters]]) and grafting the call's argument
  * expression into the placeholder — one definition site, three surfaces
  * (Column API, SQL text, DuckDB oracle).
  */
object GraftFunctions {

  private val lpmTables = new ConcurrentHashMap[String, Lpm.Table]()

  /** Name a prefix table for `graft_lpm(ip, 'name')`, or for
    * `graft_lpm6(hi, lo, 'name')` when it is a 128-bit table. */
  def registerLpmTable(name: String, table: Lpm.Table): Unit =
    lpmTables.put(name, table)

  private val Arg0 = "__graft_arg0"

  private def fromTemplate(template: String): Seq[Expression] => Expression = {
    val parsed = CatalystSqlParser.parseExpression(template)
    args => parsed.transformUp {
      case a: UnresolvedAttribute if a.name == Arg0 => args.head
    }
  }

  /** The value of a literal argument, as text. `what` names the argument
    * in the error a non-literal or NULL argument raises. */
  private def litArg(e: Expression, what: String): String = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal, got $e")
    val v = e.eval(null)
    if (v == null) throw new IllegalArgumentException(
      s"$what must not be NULL")
    v.toString
  }

  private def litInt(e: Expression, what: String): Int =
    litArg(e, what).toIntOption.getOrElse(throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${e.sql}"))

  private def litDouble(e: Expression, what: String): Double =
    litArg(e, what).toDoubleOption.getOrElse(
      throw new IllegalArgumentException(
        s"$what must be a numeric literal, got ${e.sql}"))

  /** `graft_lpm(ip, 'table')` and `graft_lpm6(hi, lo, 'table')`: the
    * table's width decides how many address columns it takes. */
  private def lpmBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 2 || args.size == 3,
      "graft_lpm(ip, 'table_name') or graft_lpm6(hi, lo, 'table_name')")
    val name = litArg(args.last, "LPM table name")
    val table = lpmTables.get(name)
    require(table != null, s"no LPM table registered under '$name'")
    LpmLookup(args.init, table)
  }

  private def misraGriesBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 2, "misra_gries(col, k)")
    graft.plans.MisraGriesAgg(args.head, litInt(args(1), "misra_gries k"))
      .toAggregateExpression()
  }

  private def qdigestBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 3 || args.size == 4,
      "qdigest_quantile(col, q, k[, bits])")
    val bits =
      if (args.size == 4) litInt(args(3), "qdigest_quantile bits") else 20
    graft.plans.QDigestAgg(args.head,
      litDouble(args(1), "qdigest_quantile q"),
      litInt(args(2), "qdigest_quantile k"), bits)
      .toAggregateExpression()
  }

  private def tdigestBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 3, "tdigest_quantile(col, q, delta)")
    graft.plans.TDigestAgg(args.head,
      litDouble(args(1), "tdigest_quantile q"),
      litInt(args(2), "tdigest_quantile delta"))
      .toAggregateExpression()
  }

  private def kmvBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 2, "kmv_sketch(col, k)")
    graft.plans.KmvAgg(args.head, litInt(args(1), "kmv_sketch k"))
      .toAggregateExpression()
  }

  private def hllBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 2, "hll_distinct(col, p)")
    graft.plans.HllAgg(args.head, litInt(args(1), "hll_distinct p"))
      .toAggregateExpression()
  }

  private def toksBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 1, "graft_toks(loweredText)")
    graft.plans.TokensAz09(args.head)
  }

  private def hash60Builder: Seq[Expression] => Expression = { args =>
    require(args.size == 1, "graft_hash60(token)")
    graft.plans.Hash60(args.head)
  }

  private def argminL2Builder: Seq[Expression] => Expression = { args =>
    require(args.size == 2, "graft_argmin_l2(v, cb)")
    graft.plans.ArgminL2(args(0), args(1))
  }

  private def pqCodesBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 3, "graft_pq_codes(v, cb, sub)")
    graft.plans.PqCodes(args(0), args(1),
      litInt(args(2), "graft_pq_codes sub"))
  }

  private def opqCodesBuilder: Seq[Expression] => Expression = { args =>
    require(args.size == 3, "graft_opq_codes(v, cb, msub)")
    graft.plans.OpqCodes(args(0), args(1),
      litInt(args(2), "graft_opq_codes msub"))
  }

  /** (name, builder) for every injected function. */
  def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_toks" -> toksBuilder,
    "graft_hash60" -> hash60Builder,
    "graft_argmin_l2" -> argminL2Builder,
    "graft_pq_codes" -> pqCodesBuilder,
    "graft_opq_codes" -> opqCodesBuilder,
    "graft_proto_name" -> fromTemplate(Formatters.protoName(Arg0)),
    "graft_ip_ntoa" -> fromTemplate(Formatters.ipNtoa(Arg0)),
    "graft_tcpflags" -> fromTemplate(Formatters.tcpFlagsDecode(Arg0)),
    "graft_fwd_status" -> fromTemplate(Formatters.fwdStatus(Arg0)),
    "graft_ts_compose" -> fromTemplate(Formatters.tsCompose(Arg0)),
    "graft_mac" -> fromTemplate(Formatters.macFormat(Arg0)),
    "graft_lpm" -> lpmBuilder,
    "graft_lpm6" -> lpmBuilder,
    "misra_gries" -> misraGriesBuilder,
    "qdigest_quantile" -> qdigestBuilder,
    "tdigest_quantile" -> tdigestBuilder,
    "hll_distinct" -> hllBuilder,
    "kmv_sketch" -> kmvBuilder)

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit = {
    val reg = ColumnBridge.functionRegistry(spark)
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}

/** `spark.sql.extensions`-compatible injector. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name), b))
    }
}
