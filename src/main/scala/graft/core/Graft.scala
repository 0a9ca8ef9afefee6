package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Session factory for the graft engine: the one place a session is
  * configured.
  *
  * Every main builds its session with [[Graft.session]]: `Verify`, `Bench`,
  * `PlanAudit`, `LaneProfile`, `Explain`, `ScaleGen`, `Smoke`, the Ann/Sig
  * probes, flowbench and the test suites. `SPARK_GRAFT_CPUS` sets its
  * `local[N]` width and shuffle partitions; unset, both are
  * `min(32, nproc)`. A session the engine did not build (the driver's
  * `SparkEntry.entry`, or a caller handing its own session to
  * `SparkEntry.queries`) gets the same SQL settings from [[Graft.tune]],
  * which every [[Tables]] read applies.
  *
  * Defaults are tuned for a single-JVM `local[N]`, but every setting here
  * is what we would also ship on a 1000-executor cluster:
  *   - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  *   - shuffle partitions sized to the parallelism actually available instead
  *     of the 200 default
  *   - UTC session time zone so temporal binning matches the DuckDB oracle
  *   - nanosAsLong so parquet TIMESTAMP(NANOS) columns (the `events` table)
  *     are readable; [[Tables]] re-normalizes them to TimestampType.
  *
  * Streaming state commits the cheap way (pmacct's nfacctd keeps its
  * templates in memory and writes `nfacctd_templates_file` only when
  * asked; a micro-batch should not wait on a full state upload either):
  *   - RocksDB changelog checkpointing: a commit writes one changelog file
  *     per state partition; the full snapshot is taken every
  *     `minDeltasForSnapshot` versions and uploaded by the state-store
  *     maintenance thread, off the micro-batch. Recovery loads the
  *     newest snapshot and replays the changelogs after it, so the
  *     exactly-once contract is unchanged. It only applies to queries on
  *     `RocksDBStateStoreProvider`.
  *   - `FileSystemBasedCheckpointFileManager`: an atomic checkpoint write
  *     is a temp file plus one `rename(2)`; the default FileContext
  *     manager forks `readlink` four times per write when libhadoop is
  *     missing. It is safe on `file:` checkpoints because a local rename
  *     is atomic and Spark lets only one run of a query write its
  *     checkpoint at a time; its rename is not atomic on object stores,
  *     which are not checkpoint targets here.
  *   - `fs.file.impl` = [[NioLocalFileSystem]]: the same checksummed local
  *     filesystem, setting the permission bits Hadoop would set through
  *     NIO instead of forking `chmod` for each file and directory.
  *
  * Scratch directories have one owner, this object. [[withScratch]] is the
  * only place in the engine that creates a directory under
  * `java.io.tmpdir`, and it deletes the directory, with everything under
  * it, when its body returns or throws. A lane that writes scratch files
  * builds its answer inside [[scratchLane]], which collects the answer and
  * runs the lane's release step before the directory goes. The lane hands
  * back a local relation that carries the plan that computed it
  * ([[collectedPlan]]), so nothing it returns reads a deleted file.
  */
object Graft {
  /** The SQL settings every graft session carries, whoever built it. */
  private val sqlSettings = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  def session(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores.toInt).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl",
        classOf[NioLocalFileSystem].getName)
      .config(sqlSettings)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the session conf `settings` applied, then put every
    * touched key back as it was — also when `body` throws. A key that was
    * not set before is unset again, so it falls back to its default. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)
                 (body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Collect a lane's small answer, run `release` (drop the temp views
    * or stores the answer was read from) also when the collect throws, and
    * hand the rows back as a local relation, so the lane leaves no session
    * state behind. The local relation carries the plan that computed the
    * rows ([[collectedPlan]]), also when `out` is itself such a relation. */
  def collectLocal(out: DataFrame)(release: => Unit): DataFrame = {
    val rows = try out.collect() finally release
    val local = out.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
    local.queryExecution.logical.setTagValue(CollectedFrom,
      collectedPlan(out).getOrElse(out.queryExecution.executedPlan))
    local
  }

  private val CollectedFrom = TreeNodeTag[SparkPlan]("graft.collectedFrom")

  /** The physical plan [[collectLocal]] ran to build `df`, if `df` is
    * its local relation — the plan a plan audit should read, since the
    * local scan itself shows nothing of the lane's work. */
  def collectedPlan(df: DataFrame): Option[SparkPlan] =
    df.queryExecution.logical.getTagValue(CollectedFrom)

  /** Run `body` on a fresh directory under `java.io.tmpdir` named
    * `prefix…`, then delete the directory and everything under it — also
    * when `body` throws. */
  def withScratch[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally deleteTree(dir.toString)
  }

  /** A lane answer built over scratch files: `body` returns the lane's
    * frame over a fresh directory, [[collectLocal]] collects it, `release`
    * runs (also when the body or the collect throws: shut a database down,
    * drop the tables registered over the directory), and then the
    * directory is deleted ([[withScratch]]). */
  def scratchLane(prefix: String, release: Path => Unit = _ => ())
                 (body: Path => DataFrame): DataFrame =
    withScratch(prefix) { dir =>
      try collectLocal(body(dir))(()) finally release(dir)
    }

  /** Delete `dir` and everything under it, if it exists. */
  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  /** Apply graft's SQL settings to a session it did not build (the
    * driver's `SparkEntry.entry` session, or one handed to
    * `SparkEntry.queries`); on a [[session]] it changes nothing. */
  def tune(spark: SparkSession): SparkSession = {
    sqlSettings.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
