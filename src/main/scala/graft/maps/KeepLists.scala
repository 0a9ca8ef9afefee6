package graft.maps

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ports_file keep-list remapping: ports outside the configured list
  * collapse into the 0 bucket (reference:
  * `ports_file` CONFIG-KEYS:1114; loaded by `load_ports` in
  * src/plugin_common.c). Compiles to a single `when(isin).otherwise(0)` —
  * a codegen'd projection, the Spark analogue of pmacct's bitmap lookup.
  */
object KeepLists {

  def remapPorts(port: Column, keep: Seq[Long]): Column =
    when(port.isin(keep: _*), port).otherwise(lit(0L))
}
