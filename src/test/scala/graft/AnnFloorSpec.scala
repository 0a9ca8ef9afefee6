package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ANN recall floor as an sbt-test gate (VERDICT r14 missing #2),
  * including the piece the CORRECTNESS sweep cannot cover: the floor
  * must hold AT SCALE. q341 gates recall >= 0.20 at the driver's SFs;
  * this spec re-runs the same floor lane on a ScaleGen 10x corpus, so
  * a codebook or re-rank regression that only shows up under corpus
  * growth (the r13 capacity collapse's failure mode) fails `sbt test`
  * instead of surviving as an unwatched probe number.
  */
class AnnFloorSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def floorMap(d: String): Map[String, Long] =
    SparkEntry.queries("q341_ann_recall_floor")(spark, d)
      .as[(String, String, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap

  test("q341 recall floor holds at base scale") {
    val f = floorMap("/root/testdata/sf0.001")
    assert(f("queries_nonzero") == 1L, s"degenerate query panel: $f")
    assert(f("rr_ge_20pct") == 1L, s"recall floor violated: $f")
    assert(f("rr_ge_adc") == 1L, s"re-rank lost to raw ADC: $f")
    assert(f("k_in_range") == 1L, s"scaled K out of clamp range: $f")
  }

  test("q341 recall floor holds on a 10x ScaleGen corpus") {
    // 10x the base corpus with disjoint per-replica geometry (the
    // soak's generator): the in-plan K must scale with the corpus and
    // the re-ranked recall must still clear the same floor — this is
    // the gated form of the r14 AnnRecall measurement (0.40 at 10x)
    val f = graft.core.Graft.withScratch("annfloor10x") { dir =>
      ScaleGen.run(spark, "/root/testdata/sf0.001", dir.toString, 10)
      floorMap(dir.toString)
    }
    assert(f("queries_nonzero") == 1L, s"degenerate query panel: $f")
    assert(f("rr_ge_20pct") == 1L,
      s"recall floor violated at 10x — capacity regression: $f")
    assert(f("rr_ge_adc") == 1L, s"re-rank lost to raw ADC at 10x: $f")
    assert(f("k_in_range") == 1L, s"scaled K out of clamp range: $f")
  }

  test("q342 compaction cadence: every gate row is green") {
    val rows = SparkEntry
      .queries("q342_compaction_cadence")(spark, "/root/testdata/sf0.001")
      .as[(String, String, Long, Long)].collect()
    val gates = rows.filter(r => r._1 != "doc").map(r => r._2 -> r._4)
    assert(gates.nonEmpty && gates.forall(_._2 == 1L),
      s"cadence gates not all green: ${gates.toSeq}")
    // survivors present and unique (exact dedup owners)
    val docs = rows.filter(_._1 == "doc").map(_._2)
    assert(docs.nonEmpty && docs.distinct.length == docs.length)
  }

  test("q327 three-tier bucketed cascade: every gate row is green") {
    // the r16 store shape: per-tier pruning evidence (ek, band, cls),
    // the cadence bound, fold counts and observed monotone arrival
    // must ALL hold — a regression in any tier's bucket layout,
    // probe pruning or fold cadence fails sbt test, not just the
    // driver sweep
    val rows = SparkEntry
      .queries("q327_stream_dedup_cascade")(spark,
        "/root/testdata/sf0.001")
      .as[(String, String, Long, Long)].collect()
    val gates = rows.filter(r => r._1 != "doc").map(r =>
      s"${r._1}/${r._2}" -> r._4)
    assert(gates.size == 15, s"expected 15 gate rows: ${gates.toSeq}")
    assert(gates.forall(_._2 == 1L),
      s"cascade-store gates not all green: " +
        s"${gates.filter(_._2 != 1L).toSeq}")
    val docs = rows.filter(_._1 == "doc").map(_._2)
    assert(docs.nonEmpty && docs.distinct.length == docs.length)
  }
}
