package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sql_table_version v1-v9 legacy column mapping (CONFIG-KEYS:1301-1327;
  * schemas `sql/pmacct-create-db_v{1..9}.mysql`, versioning rules
  * `sql/README.mysql:66-140`). The JDBC upsert (q105/q63) writes the
  * CURRENT schema; existing pmacct SQL consumers run fixed legacy
  * schemas, so the emitter must rename/omit/fold columns per version:
  *
  *  - v1 has no tag column at all; v2-v8 write the tag into `agent_id`;
  *    v9 renames it `tag` (README.mysql:68-69)
  *  - `vlan` appears v2+, `tos` v3+, `flows` v4+, `class_id` v5+,
  *    `as_src`/`as_dst` v6+, `tcp_flags` v7+
  *  - below v6 the src_as/dst_as primitives write INTO the host columns
  *    `ip_src`/`ip_dst` (README.mysql:72-75, sql_table_type "original")
  *  - v8 renames `src_port`/`dst_port` to `port_src`/`port_dst`
  *    (README.mysql:136-139)
  */
object SqlSchema {

  /** Canonical engine column -> legacy column name for `version`; order
    * follows the reference's CREATE TABLE column order. Canonical names
    * absent from a version's schema are omitted from the insert. */
  def columnsFor(version: Int, asAccounting: Boolean = false)
      : Seq[(String, String)] = {
    require(version >= 1 && version <= 9, s"sql_table_version $version")
    val b = Seq.newBuilder[(String, String)]
    if (version >= 9) b += ("tag" -> "tag")
    else if (version >= 2) b += ("tag" -> "agent_id")
    if (version >= 5) b += ("class_id" -> "class_id")
    b += ("mac_src" -> "mac_src"); b += ("mac_dst" -> "mac_dst")
    if (version >= 2) b += ("vlan" -> "vlan")
    if (version >= 6) {
      b += ("as_src" -> "as_src"); b += ("as_dst" -> "as_dst")
    }
    // in AS accounting mode below v6 the AS number lands in the host
    // column; otherwise the host does
    if (asAccounting && version < 6) {
      b += ("as_src" -> "ip_src"); b += ("as_dst" -> "ip_dst")
    } else {
      b += ("ip_src" -> "ip_src"); b += ("ip_dst" -> "ip_dst")
    }
    if (version >= 8) {
      b += ("port_src" -> "port_src"); b += ("port_dst" -> "port_dst")
    } else {
      b += ("port_src" -> "src_port"); b += ("port_dst" -> "dst_port")
    }
    if (version >= 7) b += ("tcp_flags" -> "tcp_flags")
    b += ("ip_proto" -> "ip_proto")
    if (version >= 3) b += ("tos" -> "tos")
    b += ("packets" -> "packets"); b += ("bytes" -> "bytes")
    if (version >= 4) b += ("flows" -> "flows")
    b.result()
  }

  /** Project a canonical aggregate into the version's legacy schema:
    * renames applied, absent columns dropped, missing canonical inputs
    * defaulted to the schema's NOT NULL zero. */
  def project(df: DataFrame, version: Int,
              asAccounting: Boolean = false): DataFrame = {
    val cols = columnsFor(version, asAccounting).map {
      case (canonical, legacy) =>
        (if (df.columns.contains(canonical)) col(canonical)
         else lit(0L)).as(legacy)
    }
    df.select(cols: _*)
  }
}
