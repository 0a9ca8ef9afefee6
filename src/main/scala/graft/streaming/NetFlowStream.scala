package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.sources.NetFlowV9

/** nfacctd's decode stage as a streaming stateful operator
  * (SURVEY §3.1 "Spark shape": udpSource → decode(templateState) → ...).
  *
  * Datagrams key by exporter; the per-exporter template cache lives in
  * `transformWithState` keyed state as one typed
  * [[NetFlowV9.CacheState]] — the `nfacctd_templates_file` semantics
  * (CONFIG-KEYS:2040-2064) land in Spark's checkpointed state store for
  * free, so templates learned in one micro-batch decode data in every
  * later one and survive query restarts. Templates are scoped by
  * observation domain inside the exporter. Needs
  * `spark.sql.streaming.stateStore.providerClass` =
  * RocksDBStateStoreProvider.
  *
  * Commit mode: on a `Graft.session` the RocksDB store checkpoints by
  * changelog. A micro-batch's commit writes one changelog file per state
  * partition (the keys its exporters' caches changed); every
  * `minDeltasForSnapshot` versions a snapshot is taken, and the
  * state-store maintenance thread uploads it off the micro-batch. A
  * restart on the same checkpoint loads the newest uploaded snapshot and
  * replays the changelogs after it, so it resumes with every template and
  * every pending data-before-template set of the last committed batch: its
  * data decodes at once, and a pending set is released when its template
  * arrives after the restart. A batch that did not commit is replayed from
  * its offsets, as before.
  *
  * Compose with `UdpDatagramSource` for the live path:
  *
  * {{{
  *   val dgs = spark.readStream
  *     .format("graft.sources.UdpDatagramSource")
  *     .option("port", "9995").load()
  *     .selectExpr("exporter", "payload")
  *     .as[NetFlowStream.Datagram]
  *   NetFlowStream.decodeTws(dgs)   // → typed flows, then aggregate
  * }}}
  */
object NetFlowStream {

  final case class Datagram(exporter: String, payload: Array[Byte])
  final case class Flow(exporter: String, fields: Map[Int, Long])

  /** Derived and resolved once per JVM: `getValueState` in every task's
    * `init` would otherwise build and resolve the nested encoder again,
    * which is measurable per micro-batch. */
  private lazy val stateEncoder: Encoder[NetFlowV9.CacheState] =
    ExpressionEncoder[NetFlowV9.CacheState]().resolveAndBind()

  /** The template cache in RocksDB-backed `ValueState`: the
    * arbitrary-state API SURVEY §2.6/§2.10 map template state and option
    * correlation onto. `restore` may RELEASE records: pending
    * data-before-template sets persist in the state alongside templates,
    * so data that arrived in an earlier micro-batch decodes in the batch
    * whose template finally shows up — same semantics as one long-lived
    * in-memory TemplateCache. */
  final class TemplateProcessor
      extends StatefulProcessor[String, Datagram, Flow] {
    @transient private var state: ValueState[NetFlowV9.CacheState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[NetFlowV9.CacheState](
        "templates", stateEncoder, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Datagram],
                                 tv: TimerValues): Iterator[Flow] = {
      val cache = new NetFlowV9.TemplateCache
      val released = if (state.exists()) cache.restore(state.get())
                     else Nil
      val out = released.map(NetFlowV9.numeric).toIndexedSeq ++
        rows.flatMap(d => cache.observe(d.payload))
      state.update(cache.state)
      out.iterator.map(m => Flow(key, m))
    }
  }

  def decodeTws(dgs: Dataset[Datagram]): Dataset[Flow] = {
    implicit val flowEnc = Encoders.product[Flow]
    implicit val strEnc = Encoders.STRING
    dgs.groupByKey(_.exporter)
      .transformWithState(new TemplateProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
