package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the driver-generated test tables (see TESTDATA.md): the one
  * place a driver table is read.
  *
  *   - `load(s, d, name)` (and the per-table shorthands) reads
  *     `d/name.parquet` as a batch DataFrame;
  *   - `stream(s, d, name)` is its streaming twin: a file-source stream over
  *     `d/name.*` with the file's own schema, for the Structured Streaming
  *     lanes.
  *
  * Both apply [[Graft.tune]] first, so a session the engine did not build
  * reads with the same settings, and both normalize the scan the same way:
  *   - `events.ts` lands on TimestampType (microseconds, UTC session)
  *     whatever the parquet writer produced: TIMESTAMP(NANOS) arrives as a
  *     nanos BIGINT (legacy.parquet.nanosAsLong) and is floored to micros
  *     like DuckDB's `epoch_us`; TIMESTAMP(MICROS) without a zone arrives
  *     as TIMESTAMP_NTZ and re-types to the same UTC instant.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the loader
  * keeps call sites declarative (`Tables.lineitem(spark, dir)`) so swapping
  * in a real catalog is a one-file change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    Graft.tune(spark)
    normalize(name, spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** A streaming read of table `name`: every file matching `dir/name.*`,
    * under the schema of `dir/name.parquet`. The glob, not the bare file
    * path, because the file stream source lists a directory or glob for
    * new files. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    Graft.tune(spark)
    val schema = spark.read.parquet(s"$dir/$name.parquet").schema
    normalize(name, spark.readStream.schema(schema).parquet(s"$dir/$name.*"))
  }

  private def normalize(name: String, df: DataFrame): DataFrame =
    if (name == "events") normalizeEventTs(df) else df

  /** Normalize `events.ts` to micros TimestampType on a batch OR streaming
    * DataFrame, whatever physical type the parquet writer chose:
    *   - TIMESTAMP(NANOS) reads as a nanos BIGINT under nanosAsLong —
    *     `div` floors to micros exactly like DuckDB's `epoch_us`;
    *   - TIMESTAMP(MICROS) without a zone reads as TIMESTAMP_NTZ — under
    *     the UTC session timeZone [[Graft.tune]] pins, the re-type to
    *     TimestampType preserves the instant;
    *   - TIMESTAMP(MICROS) with a zone already is TimestampType.
    * The match is on the static schema, so streaming plans stay incremental.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
