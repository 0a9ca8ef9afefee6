package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** In-memory aggregate table with the IMT plugin's client operations
  * (SURVEY §2.9): continuous upsert-merge of new aggregates, full/partial
  * queries via Spark SQL, `-r` reset-counters and `-e` erase
  * (`src/imt_plugin.c`, `src/server.c`; reset served on next update,
  * docs/INTERNALS:246-249).
  *
  * Storage is LSM-shaped so an upsert costs O(batch), never O(table):
  * each batch pre-aggregates (map-side combine over its own keys only)
  * into a DELTA generation. A read (`query`, `table`) first folds any
  * pending deltas into one base generation and then reads that base
  * alone, so the merge is paid once per run of writes, not once per
  * query; `compactEvery` bounds how many deltas a run of writes with no
  * reads can build up. The temp view `name` published by each write is
  * base ⊎ deltas merged by key, so SQL run on it directly sees every
  * upsert.
  *
  * Every generation is a leaf: it is materialized with
  * `localCheckpoint(eager = true)`, so its plan is a scan of its own
  * blocks, the view's plan stays O(generations) and the driver keeps no
  * batch rows. A generation's blocks are released as soon as it is folded
  * or replaced, so a frame from `query` or `table` must run before the
  * next read, `reset` or `erase` folds or replaces what it reads.
  * Durability trade-off: a lost checkpoint block fails the read instead of
  * recomputing it from lineage, as pmacct's memory table dies with its
  * process.
  */
final class ImtStore(spark: SparkSession, name: String,
                     keys: Seq[String], counters: Seq[String],
                     compactEvery: Int = 8) {

  private var base: Option[DataFrame] = None
  private val deltas = mutable.Buffer[DataFrame]()

  /** Generations currently alive (base + pending deltas) — observability
    * hook for the storage-flat spec. */
  def generations: Int = base.size + deltas.size

  private def mergeByKey(df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(counters.head).as(counters.head),
        counters.tail.map(c => sum(c).as(c)): _*)

  /** One frame over `parts`, merged by key (a lone part already is). */
  private def merged(parts: Seq[DataFrame]): DataFrame =
    if (parts.size == 1) parts.head
    else mergeByKey(parts.reduce(_ unionByName _))

  /** Materialize `df` as a leaf generation that scans its own blocks. */
  private def leaf(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  /** Free a generation's checkpoint blocks. */
  private def release(gen: DataFrame): Unit =
    gen.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def publishView(): Unit = {
    val parts = base.toSeq ++ deltas
    if (parts.nonEmpty) merged(parts).createOrReplaceTempView(name)
  }

  /** Merge a batch of aggregates: counters accumulate per key
    * (Accumulate_Counters, src/imt_plugin.h:145) — including duplicate
    * keys WITHIN the very first batch. Work done here is proportional to
    * THIS batch: only the batch aggregate materializes; the base is
    * untouched until a read or `compactEvery` deltas fold it. */
  def upsert(batch: DataFrame): Unit = {
    deltas += leaf(mergeByKey(batch))
    if (deltas.size >= compactEvery) compact()
    publishView()
  }

  /** Fold base + deltas into one base generation. */
  private def compact(): Unit = if (deltas.nonEmpty) {
    val parts = base.toSeq ++ deltas
    if (parts.size == 1) base = parts.headOption // a lone delta is merged
    else {
      base = Some(leaf(merged(parts)))
      parts.foreach(release)
    }
    deltas.clear()
  }

  /** Fold pending deltas so the view is the base generation alone. */
  private def fold(): Unit = if (deltas.nonEmpty) {
    compact()
    publishView()
  }

  /** `pmacct -s` / `-c ... -M ...` queries are plain SQL on the view. */
  def query(sql: String): DataFrame = {
    fold()
    spark.sql(sql)
  }

  def table: DataFrame = {
    fold()
    base.getOrElse(spark.emptyDataFrame)
  }

  /** Replace the base generation with `next(base)`, after a fold. */
  private def replaceBase(next: DataFrame => DataFrame): Unit = {
    compact()
    base = base.map { cur =>
      val gen = next(cur)
      release(cur)
      gen
    }
    publishView()
  }

  /** `-r`: zero all counters, keep keys (an explicit client op — the one
    * operation that legitimately touches every key). */
  def reset(): Unit = replaceBase(cur => leaf(cur.select(keys.map(col) ++
    counters.map(c => lit(0L).as(c)): _*)))

  /** `-e`: drop the table contents. The schema survives, in an empty
    * generation that holds no blocks, for later upserts. */
  def erase(): Unit = replaceBase(cur =>
    spark.createDataFrame(java.util.Collections.emptyList[Row](), cur.schema))
}
