package flowbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.{Column, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ConfigSpec
import graft.plans.Lpm
import graft.sinks.{AvroSink, FlowSinks}
import graft.streaming.NetFlowStream

/** `nf-replay`: batch replay of a seeded NetFlow v9/IPFIX corpus through
  * decode → projection → LPM + pre_tag enrichment → binned aggregation →
  * Avro Kafka frames. One round replays the whole corpus; the frames are
  * collected by the benchmark, which sits where the Kafka producer
  * would. */
final class Replay(seed: Long, roundDgs: Int) extends Workload {
  val latName = "round latency, datagrams in to frames out"

  val corpus: Gen.ReplayCorpus = Gen.replayCorpus(seed, roundDgs)
  private val datagrams = corpus.datagrams
    .map(d => NetFlowStream.Datagram(d.exporter, d.payload))
  private val history = "kafka_history: 5m"
  private val aggregate =
    "aggregate: src_host,dst_host,dst_port,proto,tag,dst_as"
  private val conf = Seq(aggregate, history,
    "pre_tag_map: " + Gen.preTagMapConf(corpus.rules)).mkString("\n")
  private val KeyCols =
    Seq("bin_start", "src_host", "dst_host", "dst_port", "proto", "tag",
      "dst_as")

  private var table: Lpm.Table = _
  private def dstAs: Column = coalesce(Lpm.lpm(col("ip_dst"), table), lit(0L))
  private def fields: Map[String, Column] =
    ConfigSpec.defaultFields + ("dst_as" -> dstAs)

  private def datagramDs(spark: SparkSession,
                         dgs: Seq[NetFlowStream.Datagram] = datagrams)
      : Dataset[NetFlowStream.Datagram] =
    spark.createDataset(dgs)(Encoders.product[NetFlowStream.Datagram])

  def setup(spark: SparkSession, work: Path): Unit = {
    // transformWithState keeps its (batch-scoped) state in a state store,
    // whose coordinator endpoint only exists once the session's
    // streaming manager does
    spark.streams
    table = new Lpm.Table(32, corpus.rib)
    // one round over the corpus head: codegen, class loading and the
    // table's first shipment happen here, not in the measured rounds
    round(spark, datagrams.take(200))
  }

  /** One untraced round: the plan a deployment would run, fused. */
  private def round(spark: SparkSession,
                    dgs: Seq[NetFlowStream.Datagram] = datagrams)
      : (Array[Row], String) = {
    val flows = NetFlowStream.decodeTws(datagramDs(spark, dgs))
    val agg = ConfigSpec.run(Workload.project(flows.toDF()), conf, fields)
    (FlowSinks.kafkaAvroFrame(agg, KeyCols).collect(),
      AvroSink.avroSchema(agg.schema).toString)
  }

  /** One traced round: each stage runs on the persisted output of the
    * previous one, inside its own span. */
  private def tracedRound(spark: SparkSession, t: Trace): (Array[Row], String) = {
    val cached = mutable.Buffer[Dataset[_]]()
    def keep[T](d: Dataset[T]): Dataset[T] = {
      cached += d; d.persist()
    }
    try {
      val flows = t.span("sources.decode") {
        val f = keep(NetFlowStream.decodeTws(datagramDs(spark)).toDF())
        t.add("sources.decode.recs_out", f.count().toDouble)
        f
      }
      t.add("sources.decode.dgs_in", datagrams.size)
      val landedDgs = t.span("check") {
        flows.select(shiftright(col("fields").getItem(Gen.FlowId), 8))
          .distinct().count()
      }
      t.add("sources.decode.bad_dgs", (roundDgs - landedDgs).toDouble)
      val cols = t.span("project") {
        val c = keep(Workload.project(flows)); c.count(); c
      }
      val tag = ConfigSpec.parse(conf, fields).keys
        .collectFirst { case ("tag", c) => c }.get
      val enriched = t.span("enrich") {
        val e = keep(cols.withColumn("dst_as", dstAs).withColumn("tag", tag))
        e.count(); e
      }
      t.span("check") {
        val r = enriched.agg(count(when(col("dst_as") =!= 0L, 1)),
          count(when(col("tag") =!= 0L, 1)), count(lit(1))).first()
        t.add("enrich.lpm_hits", r.getLong(0).toDouble)
        t.add("enrich.tagged", r.getLong(1).toDouble)
        t.add("enrich.recs", r.getLong(2).toDouble)
      }
      val agg = t.span("core.agg") {
        val a = keep(ConfigSpec.run(enriched, Seq(aggregate, history)
          .mkString("\n"), ConfigSpec.defaultFields +
          ("dst_as" -> col("dst_as"))))
        t.add("core.agg.groups_out", a.count().toDouble)
        a
      }
      val frames = t.span("sinks") {
        FlowSinks.kafkaAvroFrame(agg, KeyCols).collect()
      }
      t.add("sinks.rows", frames.length)
      t.add("sinks.bytes", frames.map(r =>
        r.getString(0).length + r.getAs[Array[Byte]](1).length).sum)
      (frames, AvroSink.avroSchema(agg.schema).toString)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  /** Records missing or wrong in one round's frames. */
  private def check(out: (Array[Row], String)): Long = {
    val (frames, schemaJson) = out
    val decode = AvroSink.rowDecoder(schemaJson)
    var got = Gen.Sums.Zero
    val sampled = mutable.Map[String, Gen.Sums]()
    val wanted = corpus.sample.map { case (k, v) => k.frameKey -> v }
    var dupes = 0L
    val seen = mutable.HashSet[String]()
    frames.foreach { r =>
      val key = r.getString(0)
      val v = decode(r.getAs[Array[Byte]](1))
      val s = Gen.Sums(v.get("bytes").asInstanceOf[Long],
        v.get("packets").asInstanceOf[Long], v.get("flows").asInstanceOf[Long])
      got = got + s
      if (!seen.add(key)) dupes += 1
      if (wanted.contains(key)) sampled(key) = s
    }
    val exp = corpus.totals
    val totalMiss = math.abs(exp.flows - got.flows) +
      (if (exp.flows == got.flows && got != exp) 1L else 0L)
    val keyMiss = wanted.iterator.collect {
      case (k, s) if !sampled.get(k).contains(s) => s.flows
    }.sum
    totalMiss + keyMiss + dupes
  }

  def run(spark: SparkSession, seconds: Double,
          trace: Option[Trace]): Outcome = {
    val lat = mutable.Buffer[Double]()
    var cpu = 0.0
    var attempted, failed = 0L
    var tracedS = 0.0
    var tracedRounds = 0
    while (lat.sum < seconds * 1000.0 ||
           (trace.isDefined && tracedRounds == 0)) {
      // a traced run alternates plain and traced rounds, so the gap
      // between the two is measured within one process
      val traced = trace.isDefined && lat.size > tracedRounds
      val c0 = Cpu.processS
      val t0 = System.nanoTime()
      val out =
        if (traced) trace.get.span("round")(tracedRound(spark, trace.get))
        else round(spark)
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) { tracedS += ms / 1e3; tracedRounds += 1 }
      else { cpu += Cpu.processS - c0; lat += ms }
      attempted += corpus.records.size
      failed += check(out)
    }
    val recs = corpus.records.size.toLong
    Outcome(recs * lat.size, lat.sum / 1e3, cpu, Stats.summarize(lat), attempted,
      failed, Nil, trace.map(t =>
        layers(t, tracedRounds, tracedS, lat.sum / 1e3 / lat.size))
        .getOrElse(Map.empty))
  }

  /** Per-round means over the traced rounds. */
  private def layers(t: Trace, n: Int, tracedS: Double,
                     plainRoundS: Double): Map[String, Double] = {
    val c = t.counts.map { case (k, v) => k -> v / n }
    def cpu(span: String) = t.cpuS(span) / n
    def wall(span: String) = t.wallS(span) / n
    val layerS = Seq("sources.decode", "project", "enrich", "core.agg",
      "sinks").map(wall).sum
    Map(
      "sources.decode.dgs_in" -> c("sources.decode.dgs_in"),
      "sources.decode.recs_out" -> c("sources.decode.recs_out"),
      "sources.decode.cpu_s" -> cpu("sources.decode"),
      "sources.decode.wall_s" -> wall("sources.decode"),
      "sources.decode.recs_per_cpu_s" ->
        c("sources.decode.recs_out") / cpu("sources.decode"),
      "sources.decode.shuffle_bytes" ->
        t.sparkOf("sources.decode").shuffleWriteBytes.toDouble / n,
      "sources.decode.bad_dgs" -> c("sources.decode.bad_dgs"),
      "project.cpu_s" -> cpu("project"),
      "project.wall_s" -> wall("project"),
      "enrich.cpu_s" -> cpu("enrich"),
      "enrich.wall_s" -> wall("enrich"),
      "enrich.recs_per_cpu_s" -> c("enrich.recs") / cpu("enrich"),
      "enrich.lpm_hit_ratio" -> c("enrich.lpm_hits") / c("enrich.recs"),
      "enrich.tagged_ratio" -> c("enrich.tagged") / c("enrich.recs"),
      "core.agg.recs_in" -> c("enrich.recs"),
      "core.agg.groups_out" -> c("core.agg.groups_out"),
      "core.agg.reduction_ratio" ->
        c("enrich.recs") / c("core.agg.groups_out"),
      "core.agg.cpu_s" -> cpu("core.agg"),
      "core.agg.wall_s" -> wall("core.agg"),
      "core.agg.shuffle_write_bytes" ->
        t.sparkOf("core.agg").shuffleWriteBytes.toDouble / n,
      "core.agg.spill_bytes" -> t.sparkOf("core.agg").spillBytes.toDouble / n,
      "sinks.rows" -> c("sinks.rows"),
      "sinks.bytes" -> c("sinks.bytes"),
      "sinks.bytes_per_row" -> c("sinks.bytes") / c("sinks.rows"),
      "sinks.cpu_s" -> cpu("sinks"),
      "trace.overhead" -> (tracedS / n / plainRoundS - 1.0),
      "trace.layer_share" -> layerS / (tracedS / n))
  }

  def teardown(spark: SparkSession): Unit = table = null
}
