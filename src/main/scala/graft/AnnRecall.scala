package graft
import graft.core.Graft
import org.apache.spark.sql.functions._

/** Recall-at-scale extraction (VERDICT r12 #6): runs the three ANN
  * lanes' builders in the engine's session (`Graft.session`, the one
  * Bench runs — the soak measurement environment) and prints ONE line
  * per lane with aggregated recall@5, so the 10×/100× soak measures
  * QUALITY alongside time. Usage: runMain graft.AnnRecall <sfDir>. */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Graft.session("annrecall")
    // probe-only sampled query panel for big corpora (the gated
    // lanes keep %97): SPARK_GRAFT_QMOD=9973 makes the exact-truth
    // leg tractable at 100x (O(queries x corpus x dims))
    val qmod = sys.env.get("SPARK_GRAFT_QMOD").map(_.toLong)
    def run(name: String): Unit = {
      val t0 = System.nanoTime()
      val df = (name, qmod) match {
        case ("q339_pq_scaled_rerank", Some(m)) =>
          graft.similarity.SimilarityQueries
            .scaledRerankRows(spark, d, m)
        case ("q343_opq_permutation", Some(m)) =>
          graft.similarity.SimilarityQueries
            .opqPermutationRows(spark, d, m)
        case (_, Some(_)) =>
          // the other panel-bearing lanes hardcode the %97 gated
          // panel; running them under QMOD would silently pay the
          // exact O(queries x corpus x dims) truth leg the flag
          // exists to avoid — refuse loudly instead
          sys.error(s"SPARK_GRAFT_QMOD set but lane $name has no " +
            "sampled-panel builder (only q339/q343 do); run it " +
            "without QMOD or drop it from the lane list")
        case _ => SparkEntry.queries(name)(spark, d)
      }
      val (hits, cand) =
        if (name == "q246_ann_recall") {
          val r = df.agg(sum("n_hits"), sum("n_ivf")).head()
          (r.getLong(0), r.getLong(1))
        } else if (name == "q335_pq_rerank" ||
            name == "q339_pq_scaled_rerank") {
          // the refine lane reports BOTH its stages: the coded scan's
          // raw top-5 (recall_adc) and the post-re-rank top-5
          // (recall_rr) — the contrast IS the measurement
          val r = df.filter(col("kind") === "recall_adc")
            .agg(sum("v"), sum("n")).head()
          val rr = df.filter(col("kind") === "recall_rr")
            .agg(sum("v"), sum("n")).head()
          println(f"""ANNRECALL {"lane":"$name/adc","sf":"$d","hits":${r.getLong(0)},"cand":${r.getLong(1)},"recall":${if (r.getLong(1) == 0) 0.0 else r.getLong(0).toDouble / r.getLong(1)}%.4f}""")
          (rr.getLong(0), rr.getLong(1))
        } else {
          // coalesce: a lane with no 'recall' rows (e.g. the q341
          // floor gate) reports 0/0 instead of crashing the sweep
          val r = df.filter(col("kind") === "recall")
            .agg(coalesce(sum("v"), lit(0L)),
              coalesce(sum("n"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""ANNRECALL {"lane":"$name","sf":"$d","hits":$hits,"cand":$cand,"recall":${if (cand == 0) 0.0 else hits.toDouble / cand}%.4f,"secs":$secs%.2f}""")
    }
    val lanes = args.drop(1) match {
      case more if more.nonEmpty => more.toSeq
      // under QMOD the default sweep is only the lanes with a
      // sampled-panel builder — the %97 exact-truth legs of the
      // others are exactly the blowup the flag exists to avoid
      case _ if qmod.isDefined =>
        Seq("q339_pq_scaled_rerank", "q343_opq_permutation")
      case _ => Seq("q246_ann_recall", "q266_pq_adc", "q286_ivf_pq",
        "q331_pq_scaled_k", "q335_pq_rerank", "q339_pq_scaled_rerank",
        "q343_opq_permutation")
    }
    // ADVICE r16: validate the WHOLE lane list up front — an explicitly
    // listed non-panel lane under QMOD used to sys.error mid-sweep,
    // killing the remaining lanes after paying for the earlier ones.
    val qmodPanel = Set("q339_pq_scaled_rerank", "q343_opq_permutation")
    if (qmod.isDefined) {
      val bad = lanes.filterNot(qmodPanel)
      require(bad.isEmpty,
        s"SPARK_GRAFT_QMOD set but lanes [${bad.mkString(", ")}] have " +
          "no sampled-panel builder (only q339/q343 do); run them " +
          "without QMOD or drop them from the lane list")
    }
    lanes.foreach(run)
    spark.stop()
  }
}
