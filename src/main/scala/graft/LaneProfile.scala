package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.core.Graft

/** Dev tool (optimization rounds): run selected lanes with a job-level
  * profile — one line per Spark job (duration, #stages seen, first
  * stage's name/callsite) plus the lane wall total — so a slow lane
  * decomposes into its actual jobs instead of guesses.
  * Usage: runMain graft.LaneProfile <qname> [qname...]
  */
object LaneProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("laneprofile")
    // Bench's warm-up, so no lane here is billed a fill Bench does not bill
    if (!Bench.warmUp(spark, sfDir))
      println("WARMUP SigTable fill failed: the first consumer pays it")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val jobStartTs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val prop = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
        val desc = prop.getOrElse(
          js.stageInfos.map(_.name).distinct.mkString(" | "))
        jobs.put(js.jobId, (js.time, desc.take(200), js.stageInfos.size))
        jobStartTs.put(js.jobId, js.time)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (t0, d, ns) =>
          done.add((je.jobId, je.time - t0, d, ns))
        }
      }
    })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      done.clear()
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      fn(spark, sfDir).queryExecution.executedPlan.execute().count()
      val wall = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val js = done.asScala.toSeq.sortBy(_._1)
      val totalJobMs = js.map(_._2).sum
      println(f"LANE $name wall=$wall%.2f s jobs=${js.size} jobMs=$totalJobMs")
      // also surface DRIVER-SIDE gaps: time between a job's end and
      // the next job's start (planning, listing, fs work, stream
      // bookkeeping) — where wall >> jobMs lives
      var prevEnd = w0
      js.foreach { case (id, ms, d, ns) =>
        val st = jobStartTs.getOrDefault(id, prevEnd)
        val gap = st - prevEnd
        prevEnd = math.max(prevEnd, st + ms)
        val gs = if (gap > 150) f" [gap ${gap}%d ms]" else ""
        println(f"  job $id%4d ${ms}%6d ms stages=$ns$gs $d")
      }
    }
    spark.stop()
  }
}
