package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Graft, Tables}

/** Synthetic scale-up generator for the sf1 soak (VERDICT r10 #1).
  *
  * Replicates the driver's sf0.1 tables `factor`× with key remapping so
  * CARDINALITIES grow like a real scale factor (not row duplication):
  * every primary/foreign key k becomes k*factor + r for replica r, which
  * preserves referential integrity (orders↔lineitem↔part/supplier,
  * customer↔orders) and multiplies distinct users/orders/docs by factor.
  *
  * Content transforms keep per-replica semantics equal to the base corpus
  * while preventing cross-replica collapse:
  *   - documents.text: each word is rotated by r characters (length- and
  *     tokenization-preserving), so replica r's shingle set is disjoint
  *     from replica 0's — dedup/LSH lanes see factor× independent corpora,
  *     not one corpus with factor× near-duplicates (which would blow up
  *     candidate pairs quadratically by DATA semantics, not plan shape).
  *   - embeddings: dim0 shifts by r*8.0, so ANN/IVF lanes see factor
  *     shifted slabs — per-slab geometry identical to the base set.
  *   - events.ts: +r µs jitter only (same time range, factor× density —
  *     temporal-bin counts grow per bin, bin count stays put, matching
  *     how a busier network scales).
  *
  * Output layout matches /root/testdata (dir/<name>.parquet), written as
  * multi-file parquet so scans parallelize (the driver's single-file sf0.1
  * artifact caps scan parallelism at one task — BENCH_NOTES).
  *
  * Usage: runMain graft.ScaleGen <inDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val spark = Graft.session("scalegen", shufflePartitions = Some(32))
    run(spark, in, out, factor)
    spark.stop()
  }

  def run(spark: SparkSession, in: String, out: String, factor: Int): Unit = {
    val f = lit(factor.toLong)

    /** Cross with replica ids 0..factor-1. */
    def rep(df: DataFrame): DataFrame =
      df.withColumn("r", explode(lit((0L until factor.toLong).toArray)))

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // small dims pass through unchanged (regions/nations are fixed-25 in
    // TPC-H at every sf)
    for (t <- Seq("region", "nation"))
      write(Tables.load(spark, in, t), t, 1)

    write(rep(Tables.customer(spark, in)).select(
      (col("c_custkey") * f + col("r")).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), "customer", 4)

    write(rep(Tables.supplier(spark, in)).select(
      (col("s_suppkey") * f + col("r")).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier", 2)

    write(rep(Tables.part(spark, in)).select(
      (col("p_partkey") * f + col("r")).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), "part", 4)

    write(rep(Tables.orders(spark, in)).select(
      (col("o_orderkey") * f + col("r")).as("o_orderkey"),
      (col("o_custkey") * f + col("r")).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8)

    write(rep(Tables.lineitem(spark, in)).select(
      (col("l_orderkey") * f + col("r")).as("l_orderkey"),
      (col("l_partkey") * f + col("r")).as("l_partkey"),
      (col("l_suppkey") * f + col("r")).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem", 16)

    write(rep(Tables.events(spark, in)).select(
      (col("event_id") * f + col("r")).as("event_id"),
      expr("timestamp_micros(unix_micros(ts) + r)").as("ts"),
      (col("user_id") * f + col("r")).as("user_id"),
      col("event_type"), col("value"), col("props")), "events", 8)

    // word-rotation: same length, same whitespace tokenization, disjoint
    // shingles across replicas (single-char words can't rotate)
    write(rep(Tables.documents(spark, in)).select(
      (col("doc_id") * f + col("r")).as("doc_id"),
      expr("""array_join(transform(split(text, ' '), w ->
               IF(length(w) > 1 AND r % length(w) != 0,
                  concat(substr(w, 1 + CAST(r % length(w) AS INT)),
                         substr(w, 1, CAST(r % length(w) AS INT))),
                  w)), ' ')""").as("text"),
      col("lang"), col("source"), col("n_chars")), "documents", 8)

    write(rep(Tables.embeddings(spark, in)).select(
      (col("vec_id") * f + col("r")).as("vec_id"),
      expr("""transform(embedding, (x, i) ->
               IF(i = 0, CAST(x + r * 8.0 AS FLOAT), x))""")
        .as("embedding"),
      col("label")), "embeddings", 8)
  }
}
