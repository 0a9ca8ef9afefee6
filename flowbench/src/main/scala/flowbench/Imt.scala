package flowbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.ImtStore

/** `imt-query`: one closed-loop client acting as the memory plugin and
  * its `pmacct` client. Each cycle upserts one pre-aggregated batch, then
  * runs the query mix; a client-side mirror of the table answers every
  * query independently. */
final class Imt(seed: Long) extends Workload {
  val latName = "query latency, ImtStore.query to rows on the client"

  val Table = "flowbench_imt"
  private val Keys = Seq("bin_start", "src_host", "dst_port", "proto")
  private val Counters = Seq("bytes", "packets", "flows")
  private val schema = StructType((Keys ++ Counters)
    .map(StructField(_, LongType, nullable = false)))
  val BatchRows = 2000
  val NewShare = 0.1
  private var store: ImtStore = _
  private var gen: Gen.ImtBatches = _
  private val mirror = mutable.HashMap[Gen.ImtKey, Gen.Sums]()

  private def frame(spark: SparkSession,
                    rows: Seq[(Gen.ImtKey, Gen.Sums)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, s) =>
      Row(k.bin, k.src, k.dport.toLong, k.proto.toLong, s.bytes, s.pkts,
        s.flows)
    }.asJava, schema)

  private def upsert(spark: SparkSession,
                     rows: Seq[(Gen.ImtKey, Gen.Sums)]): Unit = {
    store.upsert(frame(spark, rows))
    rows.foreach { case (k, s) =>
      mirror(k) = mirror.getOrElse(k, Gen.Sums.Zero) + s
    }
  }

  def setup(spark: SparkSession, work: Path): Unit = {
    mirror.clear()
    store = new ImtStore(spark, Table, Keys, Counters)
    gen = new Gen.ImtBatches(seed)
    // prefill: the table holds 20k keys before the first timed operation
    (1 to 4).foreach(_ => upsert(spark, gen.next(5000, 1.0)))
    queries().foreach { case (_, sql, expect) => require(ask(sql) == expect(), sql) }
  }

  private def rows(out: Array[Row]): Seq[Seq[Long]] = out.toSeq.map(r =>
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)))

  private def ask(sql: String): Seq[Seq[Long]] =
    rows(store.query(sql).collect())

  /** The client's query mix: (name, SQL, expected rows from the mirror). */
  private def queries(): Seq[(String, String, () => Seq[Seq[Long]])] = {
    val k = gen.pick()
    val port = gen.pickPort()
    def row(k: Gen.ImtKey, s: Gen.Sums): Seq[Long] =
      Seq(k.bin, k.src, k.dport.toLong, k.proto.toLong, s.bytes, s.pkts,
        s.flows)
    Seq(
      ("top", s"SELECT ${(Keys ++ Counters).mkString(", ")} FROM $Table " +
        "ORDER BY bytes DESC, bin_start, src_host, dst_port, proto LIMIT 10",
        () => mirror.toSeq.sortBy { case (k, s) =>
          (-s.bytes, k.bin, k.src, k.dport, k.proto)
        }.take(10).map { case (k, s) => row(k, s) }),
      ("exact", s"SELECT ${Counters.mkString(", ")} FROM $Table WHERE " +
        s"bin_start = ${k.bin} AND src_host = ${k.src} AND " +
        s"dst_port = ${k.dport} AND proto = ${k.proto}",
        () => mirror.get(k).toSeq.map(s => Seq(s.bytes, s.pkts, s.flows))),
      ("partial", s"SELECT count(*), sum(bytes), sum(packets), sum(flows) " +
        s"FROM $Table WHERE dst_port = $port",
        () => {
          val m = mirror.filter(_._1.dport == port).values
          Seq(Seq(m.size.toLong, m.map(_.bytes).sum, m.map(_.pkts).sum,
            m.map(_.flows).sum))
        }),
      ("proto", s"SELECT proto, sum(bytes), sum(packets), sum(flows) " +
        s"FROM $Table GROUP BY proto ORDER BY proto",
        () => mirror.groupBy(_._1.proto).toSeq.sortBy(_._1).map {
          case (p, m) => Seq(p.toLong, m.values.map(_.bytes).sum,
            m.values.map(_.pkts).sum, m.values.map(_.flows).sum)
        }))
  }

  def run(spark: SparkSession, seconds: Double,
          trace: Option[Trace]): Outcome = {
    val queryMs, upsertMs = mutable.ArrayBuffer[Double]()
    val gens = mutable.ArrayBuffer[Double]()
    var cpu, tracedS, plainS = 0.0
    var upserted, attempted, failed, upsertJobs, queryJobs, compactions = 0L
    var tracedCycles, plainCycles = 0
    val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds ||
           (trace.isDefined && tracedCycles == 0)) {
      // a traced run alternates plain and traced cycles
      val traced = trace.isDefined && plainCycles > tracedCycles
      val batch = gen.next(BatchRows, NewShare)
      val qs = queries()
      val c0 = Cpu.processS
      val j0 = trace.map(_.sparkNow.jobs).getOrElse(0L)
      val g0 = store.generations
      val u0 = System.nanoTime()
      upsert(spark, batch)
      val uMs = (System.nanoTime() - u0) / 1e6
      var cycleS = uMs / 1e3
      if (store.generations <= g0) compactions += 1
      val j1 = trace.map(_.sparkNow.jobs).getOrElse(0L)
      upsertJobs += j1 - j0
      gens += store.generations
      upserted += batch.size
      qs.foreach { case (_, sql, expect) =>
        attempted += 1
        val q0 = System.nanoTime()
        val got = try {
          val df = store.query(sql)
          val out = df.collect()
          val ms = (System.nanoTime() - q0) / 1e6
          if (traced) {
            val ph = df.queryExecution.tracker.phases
            var planMs = 0.0
            Seq("analysis", "optimization", "planning").foreach { p =>
              val d = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
              phases(p) += d
              planMs += d
            }
            phases("exec") += ms - planMs
            phases("n") += 1
          } else queryMs += ms
          cycleS += ms / 1e3
          Some(rows(out))
        } catch { case e: Exception =>
          System.err.println(s"query failed: $sql: $e")
          None
        }
        if (!got.contains(expect())) failed += 1
      }
      val j2 = trace.map(_.sparkNow.jobs).getOrElse(0L)
      queryJobs += j2 - j1
      if (traced) { tracedS += cycleS; tracedCycles += 1 }
      else {
        upsertMs += uMs
        plainS += cycleS
        plainCycles += 1
        cpu += Cpu.processS - c0
      }
    }
    val layers = trace.map { _ =>
      val n = phases("n")
      Map(
        "core.imt.upsert_jobs" -> upsertJobs.toDouble / (tracedCycles + plainCycles),
        "core.imt.compactions" -> compactions.toDouble,
        "core.imt.generations_p50" -> Stats.median(gens.toSeq),
        "core.imt.query_analysis_ms" -> phases("analysis") / n,
        "core.imt.query_optimization_ms" -> phases("optimization") / n,
        "core.imt.query_planning_ms" -> phases("planning") / n,
        "core.imt.query_exec_ms" -> phases("exec") / n,
        "core.imt.query_jobs" -> queryJobs.toDouble / attempted,
        "trace.overhead" ->
          ((tracedS / tracedCycles) / (plainS / plainCycles) - 1.0))
    }.getOrElse(Map.empty)
    val plainRows = upserted * plainCycles / (plainCycles + tracedCycles)
    Outcome(plainRows, plainS, cpu, Stats.summarize(queryMs), attempted, failed,
      Seq("upsert" -> Stats.summarize(upsertMs.toSeq)), layers)
  }

  def teardown(spark: SparkSession): Unit = {
    if (store != null) {
      // `-e` folds every generation into one empty cached table; then the
      // last cached generation is dropped with the view
      store.erase()
      store.table.unpersist(blocking = true)
      spark.catalog.dropTempView(Table)
    }
    store = null
    mirror.clear()
  }
}
