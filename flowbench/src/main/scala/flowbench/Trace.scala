package flowbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.flowbench.Internals

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM process, in seconds. */
  def processS: Double = os.getProcessCpuTime / 1e9
  def loadAvg: Double = os.getSystemLoadAverage
}

/** Spark's own counters, summed from listener events. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long,
                             taskCpuS: Double, gcS: Double,
                             shuffleWriteBytes: Long, shuffleReadBytes: Long,
                             spillBytes: Long) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskCpuS - o.taskCpuS, gcS - o.gcS,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes)
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskCpuS + o.taskCpuS, gcS + o.gcS,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes)
}

object SparkCounts {
  val Zero: SparkCounts = SparkCounts(0, 0, 0, 0, 0, 0, 0, 0)
}

final class SparkTap extends SparkListener {
  private val jobs, stages, tasks, cpuNs, gcMs, shW, shR, spill =
    new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** finished jobs as (start ms, end ms) */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def counts: SparkCounts = SparkCounts(jobs.get, stages.get, tasks.get,
    cpuNs.get / 1e9, gcMs.get / 1e3, shW.get, shR.get, spill.get)

  /** Seconds of [fromMs, toMs) during which no Spark job ran. */
  def idleS(fromMs: Long, toMs: Long): Double = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (toMs - fromMs - covered) / 1e3
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                        wallS: Double, cpuS: Double, spark: SparkCounts)
}

/** Spans and counts recorded by the benchmark around each call into an
  * engine module. Spans stay in memory until the run ends. */
final class Trace(spark: SparkSession) {
  import Trace.Span

  val tap = new SparkTap
  spark.sparkContext.addSparkListener(tap)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0
  val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  def sparkNow: SparkCounts = {
    Internals.drainListeners(spark.sparkContext)
    tap.counts
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val s0 = sparkNow
    val c0 = Cpu.processS
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Cpu.processS - c0
      spans += Span(id, parent, name, startMs, wall, cpu, sparkNow - s0)
      open = open.tail
    }
  }

  def add(name: String, v: Double): Unit = counts(name) += v

  /** Spans of one name, e.g. every replay round's decode step. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def wallS(name: String): Double = named(name).map(_.wallS).sum
  def cpuS(name: String): Double = named(name).map(_.cpuS).sum
  def sparkOf(name: String): SparkCounts =
    named(name).map(_.spark).foldLeft(SparkCounts.Zero)(_ + _)

  /** Every span as one JSON object per line. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs},"wall_s":${s.wallS}%.6f,""" +
      f""""cpu_s":${s.cpuS}%.6f,"jobs":${s.spark.jobs},""" +
      f""""tasks":${s.spark.tasks},"task_cpu_s":${s.spark.taskCpuS}%.6f,""" +
      f""""shuffle_write_bytes":${s.spark.shuffleWriteBytes}}"""
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(tap)
}
