package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Graft, Q}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is registered here as a named
  * query over the driver test tables plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL. Column names are aliased identically on
  * both sides (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** The full operator inventory, one Q per operator. */
  def inventory: Seq[Q] =
    CoreAggQueries.all ++ EngineQueries.all ++ EnrichQueries.all ++
      TextQueries.all ++ DedupQueries.all ++
      graft.similarity.SimilarityQueries.all ++
      graft.streaming.StreamingQueries.all ++ SurfaceQueries.all ++
      graft.multimodal.MultimodalQueries.all ++ ProtocolQueries.all ++
      ScaleQueries.all ++ PrimitiveQueries.all ++ ParityQueries.all ++
      DaemonQueries.all ++ CorpusQueries.all ++ GoldenQueries.all ++
      PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Graft.tune(spark)
    queries("q01_agg_base")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.queriesOf(inventory)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Q.oraclesOf(inventory)
}
