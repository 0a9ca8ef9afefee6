package graft.similarity

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Graft, Tables}

/** One run of the product-quantization (PQ) pipeline the ANN lanes share
  * (Jégou et al., TPAMI 2011): the 64-dim vectors split into M = 4
  * subspaces of [[Pq.sub]] dims, each trained with one integer Lloyd
  * round to K centroids; the corpus stores only its M codes, and the
  * query panel scores it through a per-query lookup table (the
  * Asymmetric Distance Computation, ADC), checked against the exact
  * top-5.
  *
  * Every stage is integer-exact with explicit tie-breaks: coordinates
  * are floor(x·10^6) int64s, centroids floor-div means, the codes the
  * (dist asc, cid asc) argmin and the ranks (dist asc, vec_id asc). The
  * DuckDB oracles therefore mirror the whole pipeline bit for bit.
  *
  * A lane composes the stages and row families it gates. Only
  * model-sized frames persist (a codebook, the queries×50 shortlist, the
  * queries×5 truth), through [[keep]]; the corpus-scale long form is
  * re-derived by every leg. [[answer]] collects the lane's rows and
  * releases every frame kept, so no lane reads another lane's model.
  */
private[similarity] final class Pq(s: SparkSession, d: String) {
  import Pq.{mean, sub}

  private val kept = ArrayBuffer.empty[DataFrame]

  /** Persist a model-sized frame until [[answer]] releases it. */
  def keep(df: DataFrame): DataFrame = { kept += df; df.persist() }

  /** Collect the lane's rows, then unpersist every kept frame (also when
    * the collect throws). */
  def answer(out: DataFrame): DataFrame =
    Graft.collectLocal(out)(kept.foreach(_.unpersist()))

  /** (vec_id, v): the corpus as scaled-int vectors. */
  val n: DataFrame = Pq.vectors(s, d)

  /** (vec_id, pos, x): one row per coordinate. */
  val long: DataFrame = n.selectExpr("vec_id", "posexplode(v) AS (pos, x)")

  /** The long form on the natural subspaces, m = pos DIV sub. */
  lazy val natural: DataFrame = long.withColumn("m", expr(s"pos DIV $sub"))

  /** (kk): the codebook size K = clamp(N DIV 128, 8, 256), linear in the
    * corpus up to the 8-bit code ceiling. A one-row frame that rides a
    * broadcast into the seed filter, never a driver collect. */
  lazy val k: DataFrame = n.agg(expr("greatest(CAST(8 AS BIGINT), " +
    "least(CAST(256 AS BIGINT), count(1) DIV 128)) AS kk"))

  /** The flat index on the natural subspaces: the model trained from the
    * K = 8 seed or, when `scaled`, the [[k]] seed; the corpus codes; the
    * query panel (vec_id % qmod = 0); and the panel's ADC ranking. */
  def flat(scaled: Boolean, qmod: Long): (DataFrame, DataFrame, DataFrame) = {
    val book = train(n, "v", seed(natural, scaled))
    val codes = assign(n, "v", book)
    val q = queries(natural, qmod)
    (codes, q, adc(codes, lut(q, book)))
  }

  /** Seed centroids (m, cid, pos, cm): the vectors with vec_id < K in
    * `lf`'s subspaces, K = 8 or, when `scaled`, [[k]]. */
  def seed(lf: DataFrame, scaled: Boolean): DataFrame =
    (if (scaled) lf.join(broadcast(k), col("vec_id") < col("kk"))
     else lf.filter(col("vec_id") < 8))
      .selectExpr("m", "vec_id AS cid", "pos", "x AS cm")

  /** One Lloyd round from seed `c0` over the vector column `vc` of `df`:
    * code every vector, then the floor-mean of each (m, cid)'s slices.
    * The result is the persisted model (m, cid, pos, cm), at most
    * M·256·sub rows. The vector rides along with its codes, so the means
    * need no join back onto the long form. */
  def train(df: DataFrame, vc: String, c0: DataFrame): DataFrame =
    keep(mean(df.crossJoin(broadcast(codebook(c0)))
      .selectExpr(vc, s"posexplode(${codes(vc)}) AS (m, cid)")
      .selectExpr("m", "cid",
        s"posexplode(slice($vc, m * $sub + 1, $sub)) AS (p, x)")
      .selectExpr("m", "cid", s"m * $sub + p AS pos", "x"), "m", "cid"))

  /** The corpus codes (vec_id, carry…, m, cid) of `df`'s vector column
    * `vc` under model `c`. */
  def assign(df: DataFrame, vc: String, c: DataFrame, carry: String*)
      : DataFrame =
    df.crossJoin(broadcast(codebook(c)))
      .selectExpr(("vec_id" +: carry) :+
        s"posexplode(${codes(vc)}) AS (m, cid)": _*)

  // The model collapses to ONE broadcast row, cb = [(m, cid, cms)] with
  // cms in pos order, and the native graft_pq_codes kernel runs each
  // subspace's (dist asc, cid asc) argmin inside the vector's row: no
  // corpus×M×K join rows and no exchange per assign (PqKernelsSpec pins
  // its selection).
  private def codebook(c: DataFrame) =
    c.groupBy("m", "cid")
      .agg(expr("transform(sort_array(collect_list(" +
        "struct(pos, cm))), e -> e.cm)").as("cms"))
      .groupBy()
      .agg(collect_list(struct(col("m"), col("cid"), col("cms"))).as("cb"))

  private def codes(vc: String) = s"graft_pq_codes($vc, cb, $sub)"

  /** The query panel (qid, m, pos, qx): every vector of `lf` with
    * vec_id % qmod = 0. */
  def queries(lf: DataFrame, qmod: Long): DataFrame =
    lf.filter(col("vec_id") % qmod === 0)
      .selectExpr("vec_id AS qid", "m", "pos", "x AS qx")

  /** The ADC lookup table: per query (and `by` keys), the partial squared
    * distance pd of each subspace slice to every centroid of model `c`. */
  def lut(q: DataFrame, c: DataFrame, by: String*): DataFrame =
    q.join(broadcast(c), Seq("m", "pos"))
      .groupBy((("qid" +: by) ++ Seq("m", "cid")).map(col): _*)
      .agg(sum(expr("(qx - cm) * (qx - cm)")).as("pd"))

  /** The coded scan: every vector's table distance per query, ranked
    * (qid, vec_id, dist, rn). */
  def adc(codes: DataFrame, lut: DataFrame, by: String*): DataFrame =
    codes.join(broadcast(lut), by ++ Seq("m", "cid"))
      .groupBy("qid", "vec_id").agg(sum("pd").as("dist"))
      .withColumn("rn", row_number().over(Pq.byDist))

  private def top5(ranked: DataFrame): DataFrame =
    ranked.filter(col("rn") <= 5).select("qid", "vec_id")

  /** The ADC top-50 per query (qid, vec_id, rn), persisted: queries × 50
    * rows at any corpus scale, so the coded scan runs once for every leg
    * that reads it. */
  def shortlist(ranked: DataFrame): DataFrame =
    keep(ranked.filter(col("rn") <= 50).select("qid", "vec_id", "rn"))

  /** The exact top-5 (qid, vec_id) of the query panel over the corpus. */
  private def exact(q: DataFrame): DataFrame =
    top5(Pq.l2(long.join(broadcast(q.select("qid", "pos", "qx")),
      Seq("pos"))))

  /** The exact top-5 within a shortlist: only the shortlisted vectors'
    * coordinates are fetched (a broadcast join), so the leg is
    * O(queries × 50 × dims) at any corpus scale. */
  private def rerank(q: DataFrame, short: DataFrame): DataFrame =
    top5(Pq.l2(long.join(broadcast(short.select("qid", "vec_id")),
        Seq("vec_id"))
      .join(broadcast(q.select("qid", "pos", "qx")), Seq("qid", "pos"))))

  /** 'recall' rows: per query, how many of the ranking's top 5 are in
    * the exact top-5. */
  def recall(q: DataFrame, ranked: DataFrame): DataFrame =
    recallRows("recall", top5(ranked), q.select("qid").distinct(), exact(q))

  /** 'recall_rr' and 'recall_adc' rows of a shortlist, the re-ranked and
    * the raw coded top-5 scored against one persisted exact truth. */
  def refine(q: DataFrame, short: DataFrame): DataFrame = {
    val truth = keep(exact(q))
    val qids = keep(q.select("qid").distinct())
    recallRows("recall_rr", rerank(q, short), qids, truth)
      .unionByName(recallRows("recall_adc", top5(short), qids, truth))
  }

  private def recallRows(kind: String, top: DataFrame, qids: DataFrame,
      truth: DataFrame) =
    qids.join(broadcast(truth.join(broadcast(top), Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("h"))), Seq("qid"), "left")
      .selectExpr(s"'$kind' AS kind", "CAST(qid AS STRING) AS key",
        "CAST(5 AS BIGINT) AS n", "coalesce(h, CAST(0 AS BIGINT)) AS v")

  /** 'codebook' rows: per subspace, the distinct codes used and the
    * vectors coded. */
  def codebookRows(codes: DataFrame): DataFrame =
    codes.groupBy("m")
      .agg(countDistinct("cid").as("n"), count(lit(1)).as("v"))
      .selectExpr("'codebook' AS kind", "CAST(m AS STRING) AS key", "n", "v")

  /** The 'k' row: the derived codebook size. */
  def kRow: DataFrame =
    k.selectExpr("'k' AS kind", "'k' AS key", "kk AS n", "kk AS v")

  /** 'short' rows: the shortlist depth per query. */
  def shortRows(short: DataFrame): DataFrame =
    short.groupBy("qid").agg(count(lit(1)).as("v"))
      .selectExpr("'short' AS kind", "CAST(qid AS STRING) AS key",
        "CAST(50 AS BIGINT) AS n", "v")
}

private[similarity] object Pq {
  /** Dims per subspace (64 / M). */
  val sub = 16

  /** (vec_id, v): the embeddings as floor(x·10^6) int64 vectors, the
    * scaled-integer coordinates every integer-exact lane trains on. */
  def vectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).selectExpr("vec_id",
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
        "* 1000000) AS BIGINT)) AS v")

  /** The Lloyd update over long-form rows (keys…, pos, x): per (keys…,
    * pos), the floor of the mean as cm, in integer arithmetic that rounds
    * toward −∞ like the oracles' floor division. */
  def mean(df: DataFrame, keys: String*): DataFrame =
    df.groupBy((keys :+ "pos").map(col): _*)
      .agg(sum("x").as("sx"), count(lit(1)).as("c"))
      .selectExpr(keys :+ "pos" :+ "(sx - ((sx % c) + c) % c) DIV c AS cm": _*)

  private val byDist =
    Window.partitionBy("qid").orderBy(col("dist").asc, col("vec_id").asc)

  private def l2(pairs: DataFrame) =
    pairs.groupBy("qid", "vec_id")
      .agg(sum(expr("(x - qx) * (x - qx)")).as("dist"))
      .withColumn("rn", row_number().over(byDist))
}
