package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.core.Graft
object Bench {
  /** 1-minute load average, or -1 when unreadable. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Bounded wait for the box to go (near-)idle. Returns final load. */
  private def awaitIdle(loadMax: Double, budgetMs: Long): Double = {
    val deadline = System.currentTimeMillis() + budgetMs
    while (loadAvg() > loadMax &&
      System.currentTimeMillis() < deadline) Thread.sleep(5000)
    loadAvg()
  }

  /** Per-lane solo reference times from the newest BENCH_RATIO_r*.json
    * (spark_s per query), or empty when absent/unreadable. Used by the
    * outlier re-run pass (VERDICT r12 #2): a loaded-box tail artifact
    * gets one automatic retry and both numbers are stamped. */
  private def refSolo(sfDir: String): Map[String, Double] = try {
    val dir = new java.io.File(".")
    val cand = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_RATIO_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
    cand.lastOption.map { f =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(f)
      // Scale-factor gate (ADVICE r13): the reference times are only
      // comparable at the same SF — benching sf0.01 against sf0.1 solo
      // references would mark every lane an "outlier" (or hide real
      // regressions at a larger SF). Mismatch => empty map => the
      // outlier pass simply doesn't run.
      val refSf = (j \ "sf") match {
        case JString(s) => s
        case _          => ""
      }
      if (refSf != sfDir) Map.empty[String, Double]
      else (j \ "queries") match {
        case JObject(fields) => fields.collect {
          case (name, q: JObject) => (q \ "spark_s") match {
            case JDouble(v) => Some(name -> v)
            case JInt(v)    => Some(name -> v.toDouble)
            case _          => None
          }
        }.flatten.toMap
        case _ => Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)
  } catch { case NonFatal(_) => Map.empty }

  /** Warm a fresh session so the first timed lane is not charged fixed
    * startup costs: codegen init, file listing and the scheduler, then the
    * shared materialized signature tables (VERDICT r11 #2: the one-time
    * SigTable fill billed 4-5 s to whichever lane ran first — it is
    * warehouse base-table materialization, not that lane's cost; every
    * consumer reads the same cache). Returns whether the SigTable fill
    * succeeded: NonFatal-only + a stamped flag (ADVICE r12), because a
    * failed warm-up re-bills the fill to the first consumer, and that
    * distortion must be machine-detectable, not silent. */
  def warmUp(spark: SparkSession, sfDir: String): Boolean = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q01_agg_base").foreach(_(spark, sfDir).count())
    try {
      graft.operators.SigTable.sigs(spark, sfDir).count()
      graft.operators.SigTable.pairs90(spark, sfDir).count()
      true
    } catch { case NonFatal(_) => false }
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--ref-debug")) { // dev: prove the reference
      val r = refSolo(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1"))        // artifact parses
      println(s"refSolo: ${r.size} lanes, e.g. " +
        r.toSeq.sortBy(_._1).take(3).mkString(", "))
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench hygiene (VERDICT r11 #6, tightened r13 per VERDICT r12 #2):
    // timings on a loaded box are garbage (documented 3-5x
    // solo-vs-loaded drift since r6), so wait for the box to go idle —
    // bounded, the driver must always get its JSON line — and STAMP the
    // measured load in the output either way. r12's guard of 4.0 let a
    // load-3.75 run through with 5-9x tail artifacts; the default is
    // now 1.5 with a longer bounded wait, plus the outlier re-run pass
    // below for anything that still lands hot.
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "1.5").toDouble
    val loadAtStart = awaitIdle(loadMax, 240000L)
    val spark = Graft.session("bench")
    val warmupOk = warmUp(spark, sfDir)
    // optional comma-separated name filter for local iteration; the
    // driver sets no filter and benches everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSet)
    def runOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // a crashed query records the -1 sentinel, never its elapsed time.
      // Execute the lane's FULL physical plan, not count(): under a
      // count, Catalyst eliminates row-preserving left joins (unique
      // right key), so a lane whose expensive leg hangs off such a
      // join (the recall reconciliations: q246/q266/q286) was timed
      // WITHOUT that leg — q266's exact-baseline at 100x measured
      // 12.5 s via count() vs 1313 s fully executed. The oracle side
      // (DuckDB in bench_compare) always materializes full results,
      // so count() timings systematically flattered exactly these
      // lanes. executedPlan.execute() runs the plan as the user's
      // projection demands, with no count-specific rewrite.
      val ok = try {
        fn(spark, sfDir).queryExecution.executedPlan.execute().count()
        true
      } catch { case _: Throwable => false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val lanes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val firstPass = lanes.map { case (name, fn) => name -> runOne(name, fn) }
    // Outlier re-run pass (VERDICT r12 #2): any lane >=2.5x its solo
    // reference (and >=1 s absolute excess, so sub-second noise never
    // triggers) gets ONE automatic retry after a bounded idle wait;
    // both numbers are stamped and the smaller one is scored, so a
    // transient load spike cannot masquerade as a lane regression —
    // and a real regression reproduces on the retry and stays visible.
    val ref = refSolo(sfDir)
    val outliers = firstPass.filter { case (name, t) =>
      t >= 0 && ref.get(name).exists(r => t > 2.5 * r && t - r >= 1.0)
    }.map(_._1).take(16)
    val retries: Map[String, (Double, Double)] =
      if (outliers.isEmpty) Map.empty
      else {
        awaitIdle(loadMax, 120000L)
        val fns = lanes.toMap
        outliers.map { name =>
          val first = firstPass.toMap.apply(name)
          name -> (first, runOne(name, fns(name)))
        }.toMap
      }
    val results = firstPass.map { case (name, t) =>
      name -> (retries.get(name) match {
        case Some((first, retry)) if retry >= 0 => math.min(first, retry)
        case _ => t
      })
    }.toMap
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def short(k: String): String = k.takeWhile(_ != '_')
    // The driver captures only the LAST ~2000 chars of output and
    // parses the JSON line out of that tail. 325+ lanes do not fit
    // (every BENCH_r{N} through r12 came back "parsed": null), so the
    // line carries total + the slowest lanes + the retry stamps, and
    // the FULL per-lane map goes to bench_lanes.json beside the repo's
    // other bench artifacts.
    val full = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val totalAll = results.values.filter(_ >= 0).sum
    val lanesFile = "bench_lanes.json"
    // only a full sweep writes the lanes file: a subset run must not
    // overwrite the full-sweep artifact with its few lanes
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter(lanesFile, "UTF-8")
      // a complete bench line (full-name queries map) so
      // tools/bench_compare.py can consume this file directly
      try w.println(s"""{"metric":"total","value":${fmt(totalAll)},"unit":"sec","sf":"$sfDir","load":${fmt(loadAtStart)},"queries":$full}""")
      finally w.close()
    } catch { case NonFatal(_) => () }
    val topN = results.toSeq.sortBy(-_._2).take(40).sortBy(_._1)
      .map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val retryJson = retries.toSeq.sortBy(_._1).map { case (k, (a, b)) =>
      "\"" + short(k) + "\":[" + fmt(a) + "," + fmt(b) + "," +
        fmt(ref.getOrElse(k, -1.0)) + "]"
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val loaded = if (loadAtStart > loadMax) "true" else "false"
    // Self-explaining contention stamps (VERDICT r15 #6): load_end is
    // a second loadavg sample after the lanes ran (includes our own
    // load — read it against proc_cpu_s), and proc_cpu_s is THIS
    // JVM's total CPU seconds: a run whose wall total grows while
    // proc_cpu_s stays near the solo run's is externally contended,
    // not regressed.
    val procCpuS = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1e9
    } catch { case NonFatal(_) => -1.0 }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$topN,"n":${results.size},"retries":$retryJson,"lanes_file":"$lanesFile","sf":"$sfDir","load":${fmt(loadAtStart)},"load_end":${fmt(loadAvg())},"proc_cpu_s":${fmt(procCpuS)},"loaded":$loaded,"warmup_ok":$warmupOk}""")
    spark.stop()
  }
}
