package graft
import java.nio.file.{Files, Paths}
import graft.core.Graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Queries whose results also get a canonical sorted-row text dump
    * (`<name>.canon.txt`) next to the parquet. These read only the
    * static reference fixtures, so the dump is environment-independent:
    * diffing a driver-side dump against the committed `verify_canon/`
    * copy splits "Spark side diverged" from "oracle engine diverged"
    * for r6's four driver-only hash misses. */
  private val CanonDump = Set("q227_golden_f2rd_maps",
    "q228_golden_f2rd_reload", "q230_golden_bmp_ha",
    "q233_golden_bmp_ha_msglog")

  /** Canonical text form: columns sorted by name (header line), rows
    * sorted lexicographically; cells tab-joined, null → `\N`, arrays
    * bracket-joined — mirrors the driver compare's column-sort so a
    * cell diff maps 1:1 onto its hash check. */
  private def canon(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted
    def cell(v: Any): String = v match {
      case null => "\\N"
      case a: Seq[_] => a.map(cell).mkString("[", ",", "]")
      case a: Array[_] => a.map(cell).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq.map(cell).mkString("\t")).sorted
    (cols.mkString("\t") +: rows).mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a misspelt lane would otherwise verify nothing and exit 0
    val unknown = only.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] no such lane: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    val spark = Graft.session("verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          if (CanonDump(name))
            Files.writeString(Paths.get(s"$outDir/$name.canon.txt"),
              canon(spark.read.parquet(s"$outDir/$name")))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
