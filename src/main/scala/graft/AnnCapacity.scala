package graft
import graft.core.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Model-capacity probe for the ANN quality soak (companion to
  * [[AnnRecall]]): re-runs q266's PQ-ADC shape with a PARAMETERIZED
  * codebook size K and reports recall@5 vs exact, so the r13 finding
  * (fixed K=8 collapses to ~0 recall at 10×/100×) can be tested
  * against the known remedy (scale K with the corpus). Double
  * arithmetic — this is a measurement probe, not an oracle-gated
  * lane; the gated lanes stay integer-exact at K=8 so DuckDB mirrors
  * training bit-for-bit. Usage: runMain graft.AnnCapacity <sfDir> <K>
  * [shortlist] — a third argument R > 0 adds q335's refine stage
  * (exact re-rank of the ADC top-R shortlist) and reports both
  * recalls, so the COMPOSED remedy (capacity ∝ N at training time ×
  * exact re-rank at query time) is measured, not inferred.
  */
object AnnCapacity {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val k = args(1).toInt
    val sub = 16 // dims per subspace (64 / M)
    val spark = Graft.session("anncapacity")
    val t0 = System.nanoTime()
    val n = graft.core.Tables.embeddings(spark, d).selectExpr("vec_id",
      "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val longF = n.selectExpr("vec_id", "posexplode(v) AS (pos, x)")
      .withColumn("m", expr(s"pos DIV $sub"))
    val c0 = longF.filter(col("vec_id") < k)
      .selectExpr("m", "vec_id AS cid", "pos", "x AS cm")
    def assign(c: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy("vec_id", "m")
        .orderBy(col("dist").asc, col("cid").asc)
      longF.join(broadcast(c), Seq("m", "pos"))
        .groupBy("vec_id", "m", "cid")
        .agg(sum(expr("(x - cm) * (x - cm)")).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("vec_id", "m", "cid")
    }
    val c1 = assign(c0).join(longF, Seq("vec_id", "m"))
      .groupBy("m", "cid", "pos")
      .agg(avg("x").as("cm")).persist()
    c1.count()
    val codes = assign(c1).persist()
    codes.count()
    val qs = longF.filter(col("vec_id") % 97 === 0)
      .selectExpr("vec_id AS qid", "m", "pos", "x AS qx").persist()
    val lut = qs.join(broadcast(c1), Seq("m", "pos"))
      .groupBy("qid", "m", "cid")
      .agg(sum(expr("(qx - cm) * (qx - cm)")).as("pd"))
    val wTop = Window.partitionBy("qid")
      .orderBy(col("dist").asc, col("vec_id").asc)
    val rerank = if (args.length > 2) args(2).toInt else 0
    val short = codes.join(broadcast(lut), Seq("m", "cid"))
      .groupBy("qid", "vec_id").agg(sum("pd").as("dist"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= math.max(5, rerank))
      .select("qid", "vec_id", "rn").persist()
    val adcTop = short.filter(col("rn") <= 5).select("qid", "vec_id")
    val exactTop = longF.join(
        broadcast(qs.withColumnRenamed("m", "qm")), Seq("pos"))
      .groupBy("qid", "vec_id")
      .agg(sum(expr("(x - qx) * (x - qx)")).as("dist"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5).select("qid", "vec_id").persist()
    val hits = exactTop.join(adcTop, Seq("qid", "vec_id")).count()
    val cand = adcTop.count()
    val rrStats = if (rerank > 0) {
      val rr = longF
        .join(broadcast(short.select("qid", "vec_id")), Seq("vec_id"))
        .join(broadcast(qs.select("qid", "pos", "qx")),
          Seq("qid", "pos"))
        .groupBy("qid", "vec_id")
        .agg(sum(expr("(x - qx) * (x - qx)")).as("dist"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5).select("qid", "vec_id")
      val h = exactTop.join(rr, Seq("qid", "vec_id")).count()
      s""","rerank":$rerank,"rr_hits":$h,"rr_recall":${
        if (cand == 0) "0.0"
        else f"${h.toDouble / cand}%.4f"}"""
    } else ""
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""ANNCAP {"sf":"$d","k":$k,"hits":$hits,"cand":$cand,"recall":${if (cand == 0) 0.0 else hits.toDouble / cand}%.4f$rrStats,"secs":$secs%.2f}""")
    spark.stop()
  }
}
