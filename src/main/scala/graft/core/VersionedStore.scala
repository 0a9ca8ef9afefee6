package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed key-versioned upsert store — the local-parquet analogue
  * of a Delta MERGE target for update-mode streaming flushes
  * (reference semantics: the SQL plugin's UPDATE-then-INSERT,
  * docs/INTERNALS:291-295).
  *
  * Writes are O(batch): each flush APPENDS the re-emitted group totals
  * stamped with the flush version — no read-modify-write, no driver
  * state. Reads resolve latest-version-per-key. What keeps reads from
  * degrading to O(all history) is COMPACTION: every `compactEvery`
  * appends the store folds base+delta into a new single-version-per-key
  * base generation and drops the delta — reads are then
  * O(live keys + appends since last compaction), bounded by cadence.
  * On a cluster the same split is a Delta table's MERGE/OPTIMIZE with a
  * transaction log; the generation-directory swap here is that log's
  * single-writer special case (foreachBatch serializes flushes).
  */
final class VersionedStore(spark: SparkSession, path: String,
                           keys: Seq[String], compactEvery: Int = 4) {

  private val deltaDir = s"$path/delta"
  @volatile private var baseDir: Option[String] = None
  private var appends = 0

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  private def parts(): Seq[DataFrame] =
    baseDir.map(spark.read.parquet(_)).toSeq ++
      (if (exists(deltaDir)) Seq(spark.read.parquet(deltaDir)) else Nil)

  private def latestWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("batch_id").desc)
    df.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** One streaming flush: append totals stamped with the version. */
  def append(df: DataFrame, version: Long): Unit = synchronized {
    df.withColumn("batch_id", lit(version))
      .write.mode("append").parquet(deltaDir)
    appends += 1
    if (appends >= compactEvery) compact(version)
  }

  /** Fold base + delta into a new base generation, drop the delta. */
  def compact(version: Long): Unit = synchronized {
    val newBase = s"$path/base_$version"
    latestWins(parts().reduce(_ unionByName _))
      .write.mode("overwrite").parquet(newBase)
    Graft.deleteTree(deltaDir)
    baseDir.foreach(Graft.deleteTree)
    baseDir = Some(newBase)
    appends = 0
  }

  /** Current table: latest version per key. */
  def latest(): DataFrame = {
    val ps = parts()
    require(ps.nonEmpty, "empty store")
    latestWins(ps.reduce(_ unionByName _)).drop("batch_id")
  }

  /** Physical rows currently stored (observability: the spec asserts
    * this stays bounded by live keys + compaction cadence, never grows
    * with total flush count). */
  def storedRows(): Long = parts().map(_.count()).sum
}
