package flowbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.flowbench.Internals

import graft.core.Graft

/** Flow-path benchmark entry point.
  *
  * {{{
  *   Main --workload nf-replay|nf-stream|imt-query --seed N
  *        --seconds S --trace 0|1
  * }}}
  *
  * Prints a readable report, then one JSON line: the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`), with the counts
  * of attempted and failed operations.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** nf-replay: data datagrams per replay round (~27k flow records). */
  val ReplayDgs = 1000
  /** nf-stream: offered load, data datagrams per second (~27 records
    * each), about half of what the stream sustains on 4 cores. */
  val StreamRate = 2000.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rec_per_s" -> "1/s", "cpu_us_per_rec" -> "us",
    "lat_p50_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "lat_tail_ms" -> "ms", "upsert_p50_ms" -> "ms", "upsert_tail_ms" -> "ms",
    "sources.decode.dgs_in" -> "count", "sources.decode.recs_out" -> "count",
    "sources.decode.cpu_s" -> "s", "sources.decode.wall_s" -> "s",
    "sources.decode.recs_per_cpu_s" -> "1/s",
    "sources.decode.shuffle_bytes" -> "B", "sources.decode.bad_dgs" -> "count",
    "sources.udp.dgs_sent" -> "count", "sources.udp.dgs_landed" -> "count",
    "gen.late_ms_tail" -> "ms",
    "project.cpu_s" -> "s", "project.wall_s" -> "s",
    "enrich.cpu_s" -> "s", "enrich.wall_s" -> "s",
    "enrich.recs_per_cpu_s" -> "1/s", "enrich.lpm_hit_ratio" -> "ratio",
    "enrich.tagged_ratio" -> "ratio",
    "core.agg.recs_in" -> "count", "core.agg.groups_out" -> "count",
    "core.agg.reduction_ratio" -> "ratio", "core.agg.cpu_s" -> "s",
    "core.agg.wall_s" -> "s", "core.agg.shuffle_write_bytes" -> "B",
    "core.agg.spill_bytes" -> "B",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.addBatch_ms_p50" -> "ms",
    "streaming.queryPlanning_ms_p50" -> "ms",
    "streaming.walCommit_ms_p50" -> "ms",
    "streaming.commitOffsets_ms_p50" -> "ms",
    "streaming.latestOffset_ms_p50" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "B",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.backlog_end" -> "count",
    "core.imt.upsert_jobs" -> "count", "core.imt.compactions" -> "count",
    "core.imt.generations_p50" -> "count",
    "core.imt.query_analysis_ms" -> "ms",
    "core.imt.query_optimization_ms" -> "ms",
    "core.imt.query_planning_ms" -> "ms", "core.imt.query_exec_ms" -> "ms",
    "core.imt.query_jobs" -> "count",
    "sinks.rows" -> "count", "sinks.bytes" -> "B",
    "sinks.bytes_per_row" -> "B", "sinks.cpu_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.codegen_ms" -> "ms",
    "trace.overhead" -> "ratio", "trace.layer_share" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1")
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "nf-replay" => new Replay(seed, ReplayDgs)
    case "nf-stream" => new Stream(seed, StreamRate)
    case "imt-query" => new Imt(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The box shape is pinned here: local[N] with N = min(4, nproc) and as
    * many shuffle partitions, whatever the engine's defaults are. */
  def session(cores: Int): SparkSession = {
    val s = Graft.session("flowbench", Some(s"local[$cores]"), Some(cores))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s
  }

  /** What a workload must leave behind after its teardown: nothing. */
  def hygiene(spark: SparkSession, conf0: Map[String, String],
              work: Path): Seq[String] = {
    val v = mutable.Buffer[String]()
    val rdds = spark.sparkContext.getPersistentRDDs
    if (rdds.nonEmpty) v += s"${rdds.size} persistent RDDs left"
    if (spark.streams.active.nonEmpty)
      v += s"${spark.streams.active.length} streams still active"
    val views = spark.catalog.listTables().collect().filter(_.isTemporary)
    if (views.nonEmpty) v += s"temp views left: ${views.map(_.name).mkString(",")}"
    val conf = spark.conf.getAll
    val changed = (conf.keySet ++ conf0.keySet).filter(k => conf.get(k) != conf0.get(k))
    if (changed.nonEmpty) v += s"session conf changed: ${changed.mkString(",")}"
    val own = Set("spark-local", "tmp", "warehouse")
    val left = Files.list(work).iterator().asScala
      .map(_.getFileName.toString).filterNot(own).toSeq
    if (left.nonEmpty) v += s"scratch left: ${left.mkString(",")}"
    v.toSeq
  }

  /** Sum of analysis + optimization + planning over executed queries. */
  final class PlanTime extends QueryExecutionListener {
    @volatile var ms = 0.0
    private def add(qe: QueryExecution): Unit = synchronized {
      ms += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Paths.get(sys.props.getOrElse("flowbench.work", "flowbench-work"))
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val load0 = Cpu.loadAvg
    val w = workload(o.workload, o.seed) // inputs: not part of setup_s

    val setupS = mutable.Buffer[Double]()
    val violations = mutable.Buffer[String]()
    var spark: SparkSession = null
    var conf0 = Map.empty[String, String]
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = session(cores)
      conf0 = spark.conf.getAll
      w.setup(spark, work)
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) {
        w.teardown(spark)
        violations ++= hygiene(spark, conf0, work)
        spark.stop()
      }
    }

    val trace = if (o.trace) Some(new Trace(spark)) else None
    val plans = new PlanTime
    trace.foreach(_ => spark.listenerManager.register(plans))
    val spark0 = trace.map(_.sparkNow)
    val (cg0, _) = Internals.codegen
    val wall0 = System.currentTimeMillis()
    val cpu0 = Cpu.processS
    val out = w.run(spark, o.seconds, trace)
    val wall1 = System.currentTimeMillis()
    val layerMap: Map[String, Double] = trace.map { t =>
      val d = t.sparkNow - spark0.get
      val (cg1, cgMean) = Internals.codegen
      Map("spark.jobs" -> d.jobs.toDouble, "spark.stages" -> d.stages.toDouble,
        "spark.tasks" -> d.tasks.toDouble, "spark.task_cpu_s" -> d.taskCpuS,
        "spark.gc_s" -> d.gcS,
        "spark.driver_gap_s" -> t.tap.idleS(wall0, wall1),
        "spark.plan_ms" -> plans.ms,
        "spark.codegen_ms" -> (cg1 - cg0) * cgMean) ++ out.layers
    }.getOrElse(Map.empty)
    trace.foreach { t =>
      spark.listenerManager.unregister(plans)
      sys.props.get("flowbench.traces").foreach { dir =>
        val p = Paths.get(dir)
        Files.createDirectories(p)
        Files.write(p.resolve(s"${o.workload}-seed${o.seed}.jsonl"),
          t.jsonLines.asJava)
      }
      t.close()
    }
    w.teardown(spark)
    violations ++= hygiene(spark, conf0, work)
    spark.stop()
    val procCpu = Cpu.processS

    val lat = out.lat
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "rec_per_s" -> out.records / out.timedS,
      "cpu_us_per_rec" -> out.cpuS * 1e6 / out.records,
      "lat_p50_ms" -> lat.p50)
    // the tails ride with the per-layer figures: one run's tail is set by
    // its few slowest batches and is too unsteady to gate on
    val perLayer = Map("lat_tail_ms" -> lat.tail) ++ out.report.flatMap {
      case (name, s) => Seq(s"${name}_p50_ms" -> s.p50, s"${name}_tail_ms" -> s.tail)
    } ++ layerMap

    println(s"flowbench ${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0}")
    println(f"""{"box": {"master": "local[$cores]", "shuffle_partitions": $cores, """ +
      f""""nproc": ${Runtime.getRuntime.availableProcessors}, """ +
      f""""heap_max_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
      f""""load_start": $load0%.2f, "load_end": ${Cpu.loadAvg}%.2f, """ +
      f""""proc_cpu_s": $procCpu%.2f, "measured_cpu_s": ${Cpu.processS - cpu0}%.2f}}""")
    println(f"  setup_s        ${e2e("setup_s")}%12.4f s   (median of " +
      setupS.map(x => f"$x%.3f").mkString(", ") + ")")
    println(f"  rec_per_s      ${e2e("rec_per_s")}%12.1f 1/s (${out.records} records in ${out.timedS}%.2f s)")
    println(f"  cpu_us_per_rec ${e2e("cpu_us_per_rec")}%12.3f us")
    println(s"  lat_* = ${w.latName}")
    println(f"  lat_p50_ms     ${lat.p50}%12.3f ms  (n=${lat.n})")
    def tailNote(s: Stats.Summary) =
      f"p${s.tailPct}%.1f, n=${s.n}, ${s.beyond} beyond"
    println(f"  lat_tail_ms    ${lat.tail}%12.3f ms  (${tailNote(lat)})")
    out.report.foreach { case (name, s) =>
      println(f"  ${name}_p50_ms  ${s.p50}%12.3f ms  (n=${s.n})")
      println(f"  ${name}_tail_ms ${s.tail}%12.3f ms  (${tailNote(s)})")
    }
    println(s"  attempted=${out.attempted} failed=${out.failed}")
    violations.foreach(v => println(s"  HYGIENE: $v"))
    if (o.trace) PerLayer.foreach { case (k, u) =>
      println(f"  ${k}%-34s ${perLayer.getOrElse(k, 0.0)}%16.4f $u")
    }

    val metrics =
      if (o.trace) PerLayer.map { case (k, u) => (k, perLayer.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => (k, e2e(k), u) }
    val finite = e2e.values.forall(v => !v.isNaN && !v.isInfinite)
    val failed = out.failed + violations.size
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && finite}, "attempted": ${out.attempted}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}
