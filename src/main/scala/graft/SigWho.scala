package graft
import graft.core.Graft

/** Rule-table collision sweep: replays the q242 gate's exact
  * (family, uid) sample pairs from the events table and prints every
  * sample that classifies to a DIFFERENT family — first-match-wins
  * tables break by ORDER, and the thief only shows on the real seed
  * distribution (the r12 lesson: run this before gating any SigRules
  * change). Usage: runMain graft.SigWho [sfDir] — sweep BOTH
  * sf0.01 and sf0.1; a clean run prints only "done". */
object SigWho {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Graft.session("sigwho")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.SigRules
    val families = ("acme" +: SigRules.sampleFamilies).toIndexedSeq
    val nf = families.size
    val table = SigRules.default
    val pairs = graft.core.Tables.events(spark, d)
      .selectExpr("event_id", "user_id").as[(Long, Long)].collect()
    pairs.foreach { case (eid, uid) =>
      val family = families((eid % nf).toInt)
      if (family != "acme") {
        val p = SigRules.sample(family, uid)
        val got = SigRules.classify(table, p)
        if (got != family)
          println(s"MISS family=$family uid=$uid got=$got len=${p.length} head=${p.take(16).map(b => f"${b & 0xff}%02x").mkString(" ")}")
      }
    }
    println("done")
    spark.stop()
  }
}
