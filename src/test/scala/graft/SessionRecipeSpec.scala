package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Graft, Tables}

/** One session recipe and one table reader: `Graft.session` is the only
  * place a session is built and `Tables` the only place a driver table is
  * read, and the streaming read normalizes `events.ts` exactly as the batch
  * read does. */
class SessionRecipeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private val mainRoot = Paths.get("src/main/scala/graft")
  private val testRoot = Paths.get("src/test/scala/graft")

  /** Every source file under `root`, keyed by its path under `graft/`. */
  private def sources(root: Path): Seq[(String, String)] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .toSeq
    finally files.close()
  }
  private def mainSources = sources(mainRoot)

  test("sessions are built and driver tables are read in one place each") {
    val srcs = mainSources
    assert(srcs.size > 50, s"source scan found only ${srcs.size} files")
    def offenders(pattern: String, home: String): Seq[String] =
      srcs.collect { case (f, text) if f != home &&
        pattern.r.findFirstIn(text).nonEmpty => f }.sorted
    assert(offenders("""SparkSession\.builder""", "core/Graft.scala")
      .isEmpty, "builds its own session")
    assert(offenders("SPARK_GRAFT_CPUS", "core/Graft.scala").isEmpty,
      "reads the session width itself")
    // a driver table is `<dir>/<table>.…`; lanes name the dir `d`
    val table = Tables.names.mkString("|")
    val driverRead =
      s"""\\.parquet\\(s"\\$$(d/|\\{?\\w+\\}?/($table)\\.)"""
    assert(offenders(driverRead, "core/Tables.scala").isEmpty,
      "reads a driver table around Tables")
    assert(offenders("normalizeEventTs", "core/Tables.scala").isEmpty)
    val tables = srcs.toMap.apply("core/Tables.scala")
    assert(tables.contains("private def normalizeEventTs"),
      "normalizeEventTs must stay private to Tables")
  }

  test("scratch directories are created in Graft alone") {
    val maker = """createTemp(Directory|File)""".r
    def makers(srcs: Seq[(String, String)]): Seq[String] =
      srcs.filter(src => maker.findFirstIn(src._2).nonEmpty).map(_._1).sorted
    val test = sources(testRoot)
    assert(test.size > 20, s"source scan found only ${test.size} files")
    assert(makers(mainSources) == Seq("core/Graft.scala"),
      "makes scratch around Graft.withScratch / Graft.scratchLane")
    assert(makers(test).isEmpty, "makes scratch around Graft.withScratch")
  }

  /** An `events` table in `dir` whose `ts` column has the physical type
    * `tsType`; the other columns are what the lanes read around it. */
  private def writeEvents(dir: Path, tsType: String,
                          rows: Seq[(Long, Long, String)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts ($tsType);
         |  required binary event_type (STRING);
         |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new HPath(dir.resolve("events.parquet").toUri))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts, et) =>
      w.write(g.newGroup().append("event_id", id).append("ts", ts)
        .append("event_type", et))
    } finally w.close()
  }

  test("Tables.stream reads events.ts as Tables.load does, in both forms") {
    // 2023-11-14T22:13:20.123456Z plus sub-micro digits in the nanos form
    val micros = Seq(1700000000123456L, 1700000000123457L, 1700003600000000L)
    val forms = Seq(
      "TIMESTAMP(NANOS,false)" -> micros.map(_ * 1000L + 789L),
      "TIMESTAMP(MICROS,false)" -> micros)
    forms.foreach { case (tsType, raw) =>
      Graft.withScratch("graft_tables_stream") { dir =>
        writeEvents(dir, tsType, raw.zipWithIndex.map { case (t, i) =>
          (i.toLong, t, if (i % 2 == 0) "view" else "click") })
        val name = "tables_stream_" + math.abs(tsType.hashCode)
        val q = Tables.stream(spark, dir.toString, "events")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val streamed = Graft.collectLocal(spark.table(name))(
          spark.catalog.dropTempView(name))
        val loaded = Tables.load(spark, dir.toString, "events")
        assert(streamed.schema == loaded.schema, tsType)
        assert(loaded.schema("ts").dataType == TimestampType, tsType)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.selectExpr("event_id", "unix_micros(ts)", "event_type")
            .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
        assert(rows(streamed) == rows(loaded), tsType)
        assert(rows(loaded).map(_(1)) == micros, tsType)
      }
    }
  }
}
