package flowbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.ConfigSpec
import graft.sinks.FlowSinks
import graft.sources.UdpDatagramSource
import graft.streaming.NetFlowStream

/** The open-loop generator: one thread, one UDP socket per exporter,
  * datagrams due on a fixed schedule. Every record's LastSwitchedMsec is
  * its datagram's due time, so the sink can measure lag from it. */
final class Sender(port: Int, seed: Long, rules: IndexedSeq[Gen.TagRule],
                   exporters: Int = 4) {
  private val sockets = Array.fill(exporters)(
    new DatagramSocket(new InetSocketAddress(InetAddress.getLoopbackAddress, 0)))
  private val target = new InetSocketAddress(InetAddress.getLoopbackAddress, port)
  private val exps = Array.tabulate(exporters)(i => new Gen.Exporter(i, i % 2 == 1))
  private val perExporter = Array.fill(exporters)(0L)
  private val traffic = new Gen.StreamTraffic(seed)
  val expected: mutable.Map[Gen.StreamKey, Gen.Sums] = mutable.HashMap()
  @volatile var dgs = 0L
  @volatile var recs = 0L
  val lateMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer()
  private var k = 0L

  private def send(e: Int, payload: Array[Byte]): Unit = {
    sockets(e).send(new DatagramPacket(payload, payload.length, target))
    dgs += 1
  }

  /** Send `n` data datagrams, `rate` per second, round-robin over the
    * exporters; each exporter re-sends its template every 64 datagrams. */
  def run(n: Long, rate: Double): Unit = {
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val end = k + n
    var j = 0L
    while (k < end) {
      val dueNs = t0 + (j * 1e9 / rate).toLong
      val wait = dueNs - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val dueMs = ms0 + (j * 1000.0 / rate).toLong
      val e = (k % exporters).toInt
      if (perExporter(e) % 64 == 0) send(e, exps(e).templateDg(dueMs))
      val batch = traffic.records(e, dueMs)
      send(e, exps(e).dataDg(dueMs, batch))
      lateMs += (System.nanoTime() - dueNs) / 1e6
      batch.foreach { r =>
        val key = Gen.streamKey(rules, r)
        expected(key) = expected.getOrElse(key, Gen.Sums.Zero) +
          Gen.Sums(r.bytes, r.pkts, 1L)
      }
      recs += batch.size
      perExporter(e) += 1
      k += 1
      j += 1
    }
  }

  def close(): Unit = sockets.foreach(_.close())
}

/** `nf-stream`: live UDP at a fixed offered rate into `UdpDatagramSource`
  * → `decodeTws` (RocksDB state) → `aggregate: proto,dst_port,tag` in 10 s
  * bins → update mode → `foreachBatch` into Kafka JSON frames. */
final class Stream(seed: Long, rate: Double) extends Workload {
  val latName = "lag, batch commit minus the row's last record due time"

  private val rules = Gen.tagRules(seed, 4)
  private val conf = Seq("aggregate: proto,dst_port,tag",
    "kafka_history: 10s",
    "pre_tag_map: " + Gen.preTagMapConf(rules)).mkString("\n")
  private val KeyCols = Seq("bin_start", "proto", "dst_port", "tag")

  /** (batch id, commit ms, frames as (key, JSON value)) */
  private val committed =
    new ConcurrentLinkedQueue[(Long, Long, Array[(String, String)])]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (query != null && e.progress.id == query.id) progress.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private var query: StreamingQuery = _
  private var sender: Sender = _
  private var checkpoint: Path = _
  private var setups = 0

  private def freePort(): Int = {
    val s = new DatagramSocket(0)
    try s.getLocalPort finally s.close()
  }

  def setup(spark: SparkSession, work: Path): Unit = {
    setups += 1
    checkpoint = work.resolve(s"stream-checkpoint-$setups")
    committed.clear()
    progress.clear()
    val port = freePort()
    spark.streams.addListener(listener)
    val dgs = spark.readStream.format(classOf[UdpDatagramSource].getName)
      .option("port", port.toString)
      .option("numPartitions", spark.sparkContext.defaultParallelism.toString)
      .load().select("exporter", "payload")
      .as(Encoders.product[NetFlowStream.Datagram])
    val agg = ConfigSpec.run(
      Workload.project(NetFlowStream.decodeTws(dgs).toDF()), conf)
    query = agg.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val frames = FlowSinks.kafkaFrame(df, KeyCols).collect()
          .map(r => (r.getString(0), r.getString(1)))
        committed.add((id, System.currentTimeMillis(), frames))
        ()
      }.start()
    require(UdpDatagramSource.awaitBound(port), s"udp:$port never bound")
    sender = new Sender(port, seed, rules)
    // warm-up: two seconds of traffic, fully processed; the first few
    // micro-batches run several times slower while the JIT catches up
    sender.run(2 * rate.toLong, rate)
    drain()
  }

  private def landed: Long = progress.asScala.map(_.numInputRows).sum

  /** Wait until every sent datagram has been processed (or, if some never
    * landed, until the count stops moving). */
  private def drain(): Unit = {
    var last = -1L
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 60e9.toLong
    while (landed < sender.dgs && System.nanoTime() < deadline &&
           System.nanoTime() - stableSince < 3e9.toLong) {
      query.processAllAvailable()
      Thread.sleep(20)
      if (landed != last) { last = landed; stableSince = System.nanoTime() }
    }
    query.processAllAvailable()
  }

  def run(spark: SparkSession, seconds: Double,
          trace: Option[Trace]): Outcome = {
    val firstBatch = committed.asScala.map(_._1).maxOption.getOrElse(-1L) + 1
    val dgs0 = sender.dgs
    val recs0 = sender.recs
    val late0 = sender.lateMs.size
    val c0 = Cpu.processS
    val t0 = System.nanoTime()
    val gen = new Thread(() => sender.run((rate * seconds).toLong, rate),
      "flowbench-generator")
    gen.start()
    gen.join()
    val landedAtStop = landed
    drain()
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = Cpu.processS - c0

    System.err.println("flowbench: trigger ms per batch: " +
      progress.asScala.toSeq.sortBy(_.batchId).map(p =>
        s"${p.batchId}:${p.durationMs.get("triggerExecution")}").mkString(" "))
    val json = new ObjectMapper()
    val batches = committed.asScala.toSeq.sortBy(_._1)
    val lag = mutable.ArrayBuffer[Double]()
    val last = mutable.HashMap[Gen.StreamKey, Gen.Sums]()
    var rows, frameBytes = 0L
    batches.foreach { case (id, commitMs, frames) =>
      frames.foreach { case (k, v) =>
        val n = json.readTree(v)
        val key = Gen.StreamKey(n.get("bin_start").asLong,
          n.get("proto").asInt, n.get("dst_port").asInt, n.get("tag").asLong)
        last(key) = Gen.Sums(n.get("bytes").asLong, n.get("packets").asLong,
          n.get("flows").asLong)
        if (id >= firstBatch) {
          lag += commitMs - n.get("ts_max_us").asLong / 1000.0
          rows += 1
          frameBytes += k.length + v.length
        }
      }
    }
    // every key's final row must carry exactly the sums sent for it
    val failed = (sender.expected.keySet ++ last.keySet).toSeq.map { k =>
      val exp = sender.expected.getOrElse(k, Gen.Sums.Zero)
      val got = last.getOrElse(k, Gen.Sums.Zero)
      if (exp == got) 0L
      else math.max(1L, math.max(exp.flows, got.flows))
    }.sum
    val recs = sender.recs - recs0

    val layers = trace.map { _ =>
      val ps = progress.asScala.toSeq.filter(_.batchId >= firstBatch)
      def p50(key: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
      val lastP = progress.asScala.toSeq.maxBy(_.batchId)
      val late = sender.lateMs.drop(late0)
      val nBatches = ps.size.toDouble
      val aggOp = lastP.stateOperators.filterNot(
        _.operatorName.toLowerCase.contains("transformwithstate"))
      val groups = aggOp.map(_.numRowsTotal).sum.toDouble
      Map(
        "sources.udp.dgs_sent" -> (sender.dgs - dgs0).toDouble,
        "sources.udp.dgs_landed" -> ps.map(_.numInputRows).sum.toDouble,
        "gen.late_ms_tail" -> Stats.summarize(late).tail,
        "sources.decode.dgs_in" -> ps.map(_.numInputRows).sum.toDouble,
        "sources.decode.recs_out" -> recs.toDouble,
        "core.agg.recs_in" -> recs.toDouble,
        "core.agg.groups_out" -> groups,
        "core.agg.reduction_ratio" -> recs / math.max(1.0, groups),
        "streaming.batches" -> nBatches,
        "streaming.rows_per_batch" -> rows / math.max(1.0, nBatches),
        "streaming.trigger_ms_p50" -> p50("triggerExecution"),
        "streaming.addBatch_ms_p50" -> p50("addBatch"),
        "streaming.queryPlanning_ms_p50" -> p50("queryPlanning"),
        "streaming.walCommit_ms_p50" -> p50("walCommit"),
        "streaming.commitOffsets_ms_p50" -> p50("commitOffsets"),
        "streaming.latestOffset_ms_p50" -> p50("latestOffset"),
        "streaming.state_rows" ->
          lastP.stateOperators.map(_.numRowsTotal).sum.toDouble,
        "streaming.state_bytes" ->
          lastP.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
        "streaming.state_commit_ms_p50" ->
          Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "streaming.backlog_end" -> (sender.dgs - landedAtStop).toDouble,
        "sinks.rows" -> rows.toDouble,
        "sinks.bytes" -> frameBytes.toDouble,
        "sinks.bytes_per_row" -> frameBytes / math.max(1.0, rows.toDouble),
        "spark.plan_ms" -> ps.map(p =>
          Option(p.durationMs.get("queryPlanning")).map(_.doubleValue)
            .getOrElse(0.0)).sum)
    }.getOrElse(Map.empty)
    Outcome(recs, wallS, cpuS, Stats.summarize(lag), sender.recs, failed,
      Nil, layers)
  }

  def teardown(spark: SparkSession): Unit = {
    if (query != null) { query.stop(); query.awaitTermination() }
    spark.streams.removeListener(listener)
    if (sender != null) sender.close()
    query = null
    sender = null
    Workload.deleteTree(checkpoint)
  }
}
