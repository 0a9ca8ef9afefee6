package flowbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.NetFlowV9.IE

/** What one measured run of a workload produced. */
final case class Outcome(
    records: Long,            // records through the workload's path
    timedS: Double,           // wall seconds of the measured operations
    cpuS: Double,             // process CPU over those operations
    lat: Stats.Summary,       // the workload's latency, ms
    attempted: Long,
    failed: Long,
    report: Seq[(String, Stats.Summary)], // further latency families
    layers: Map[String, Double])          // per-layer figures (traced)

trait Workload {
  /** What `lat_*` measures on this workload, for the printed report. */
  def latName: String
  /** Build enrichment tables and warm up, in a fresh session. */
  def setup(spark: SparkSession, work: Path): Unit
  def run(spark: SparkSession, seconds: Double,
          trace: Option[Trace]): Outcome
  /** Release everything `setup` and `run` created in the session. */
  def teardown(spark: SparkSession): Unit
}

object Workload {

  /** Flow map → flow-record columns: the glue between the decoder's
    * `Flow(exporter, fields)` rows and the `ConfigSpec` vocabulary. */
  def project(flows: DataFrame): DataFrame = {
    val f = col("fields")
    def ie(id: Int): Column = f.getItem(id)
    flows.select(
      ie(IE.Ipv4SrcAddr).as("ip_src"), ie(IE.Ipv4DstAddr).as("ip_dst"),
      ie(IE.L4SrcPort).as("port_src"), ie(IE.L4DstPort).as("port_dst"),
      ie(IE.Protocol).as("ip_proto"), ie(IE.TcpFlags).as("tcp_flags"),
      ie(IE.InBytes).as("bytes"), ie(IE.InPkts).as("packets"),
      (ie(IE.FirstSwitchedMsec) * 1000L).as("t0u"),
      (ie(IE.LastSwitchedMsec) * 1000L).as("t1u"))
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
