package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.maps.PreTagMap
import graft.maps.PreTagMap.TagRule
import graft.operators.{Preprocess, ProRating, SessionWalk}

/** The engine's own session (`Graft.session`), so every spec — the
  * streaming ones included — runs under the settings the engine ships. */
object SparkSuite {
  lazy val spark: SparkSession =
    Graft.session("graft-tests", Some("local[4]"), Some(4))
  graft.functions.GraftFunctions.register(spark)
}

class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("pro-rating splits counters by overlap and conserves floor sums") {
    // flow: [100s, 700s) = 600s, bytes 6000 -> bins 0..2 of 300s
    // bin0 overlap 200s, bin1 300s, bin2 100s -> 2000/3000/1000
    val df = Seq((100L * 1000000, 700L * 1000000, 6000L))
      .toDF("t0u", "t1u", "bytes")
    val out = ProRating.explodeBins(df, col("t0u"), col("t1u"), 300,
      Seq("bytes_w" -> col("bytes")))
      .select("bin_start", "bytes_w").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 2000L), (300L, 3000L), (600L, 1000L)))
  }

  test("pro-rating: instant flow lands wholly in its bin") {
    val df = Seq((400L * 1000000, 400L * 1000000, 123L)).toDF("t0u", "t1u", "b")
    val out = ProRating.explodeBins(df, col("t0u"), col("t1u"), 300,
      Seq("b" -> col("b"))).select("bin_start", "b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((300L, 123L)))
  }

  test("pro-rating: flow ending exactly on boundary stays out of next bin") {
    val df = Seq((0L, 300L * 1000000, 300L)).toDF("t0u", "t1u", "b")
    val out = ProRating.explodeBins(df, col("t0u"), col("t1u"), 300,
      Seq("b" -> col("b"))).select("bin_start").as[Long].collect()
    assert(out.toSeq == Seq(0L))
  }

  test("pro-rating conserves counters across random flows (property)") {
    val rnd = new scala.util.Random(11)
    val flows = Seq.fill(200)((
      rnd.nextLong().abs % 100000L * 1000000L,
      rnd.nextLong().abs % 2000L * 1000000L,
      rnd.nextLong().abs % 1000000L + 1L))
      .map { case (t0, dur, b) => (t0, t0 + dur, b) }
    val df = flows.toDF("t0u", "t1u", "bytes")
    val perFlow = ProRating.explodeBins(df, col("t0u"), col("t1u"), 300,
      Seq("bytes_w" -> col("bytes")))
      .groupBy("t0u", "t1u", "bytes")
      .agg(sum("bytes_w").as("alloc"), count(lit(1)).as("bins"))
      .as[(Long, Long, Long, Long, Long)].collect()
    // documented semantics: per-bin floor, sub-unit remainder dropped —
    // allocation never exceeds the source and loses < 1 unit per bin
    perFlow.foreach { case (_, _, bytes, alloc, bins) =>
      assert(alloc <= bytes && bytes - alloc < bins,
        s"bytes=$bytes alloc=$alloc bins=$bins")
    }
  }

  test("pretag jeq/stack composes tags across rule groups") {
    // group A: port 80 -> tag 1, jeq to B with stack=sum
    // group B: proto 6 -> tag 10
    val groups = Seq(
      "A" -> Seq(
        TagRule(col("port") === 80, 1L, jeq = Some("B"), stack = Some("sum")),
        TagRule(col("port") === 443, 2L)),
      "B" -> Seq(TagRule(col("proto") === 6, 10L)))
    val df = Seq((80, 6), (80, 17), (443, 6), (22, 6))
      .toDF("port", "proto")
      .withColumn("tag", PreTagMap.tagWithGroups(groups))
    val got = df.select("port", "proto", "tag")
      .as[(Int, Int, Long)].collect().toSet
    // 80/6: 1 + 10 = 11; 80/17: 1 + default 0 = 1; 443: 2; 22: 0
    assert(got == Set((80, 6, 11L), (80, 17, 1L), (443, 6, 2L), (22, 6, 0L)))
  }

  test("pretag first-match order wins") {
    val rules = Seq(
      TagRule(col("x") > 0, 1L),
      TagRule(col("x") > 10, 2L)) // shadowed by rule 1
    val got = Seq(5, 50).toDF("x")
      .withColumn("tag", PreTagMap.tagColumn(rules))
      .select("tag").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L))
  }

  test("fsrc keeps everything unadjusted when set smaller than m") {
    val df = Seq((1L, 100L), (2L, 200L)).toDF("k", "bytes")
    val out = Preprocess.fsrc(df, col("bytes"), col("k"), 50)
      .select("k", "bytes_est").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 100.0, 2L -> 200.0))
  }

  test("history bins align to epoch and calendar") {
    val ts = java.sql.Timestamp.valueOf("2024-03-15 10:47:31")
    val df = Seq(Tuple1(ts)).toDF("ts")
    val got = df.select(
      SecondsHistory(300).binOfTs(col("ts")).as("m5"),
      CalendarHistory("day").binOfTs(col("ts")).as("d"))
      .as[(Long, Long)].head()
    assert(got._1 % 300 == 0 && got._1 <= 1710499651 && got._1 > 1710499651 - 300)
    assert(got._2 == 1710460800L) // 2024-03-15 00:00 UTC
  }

  test("flow counters aggregate the pmacct fixed set") {
    val df = Seq(
      (1L, 10L, 2L, 1, 100L, 200L),
      (1L, 20L, 3L, 4, 50L, 300L))
      .toDF("key", "bytes", "packets", "tcp_flags", "t0u", "t1u")
    val out = AggregatePlanner.plan(df, FlowPlan(
      keys = Seq("key" -> col("key")),
      counters = AggregatePlanner.flowCounters(
        col("bytes"), col("packets"), col("tcp_flags"),
        col("t0u"), col("t1u"))))
    val r = out.select("bytes", "packets", "flows", "tcp_flags",
      "ts_min_us", "ts_max_us").as[(Long, Long, Long, Int, Long, Long)].head()
    assert(r == ((30L, 5L, 2L, 5, 50L, 300L)))
  }

  test("MPLS path delay and SRv6 seg-list conserve flow/segment counts") {
    val sf = "/root/testdata/sf0.001"
    val flows = FlowView.fromEvents(Tables.events(spark, sf))
    val nFlows = flows.count()
    val nSegs = flows.selectExpr("sum(1 + ip_dst % 3)").as[Long].head()
    val pd = SparkEntry.queries("q122_mpls_pathdelay")(spark, sf)
      .selectExpr("sum(n)", "min(delay_min_us)", "max(delay_max_us)")
      .as[(Long, Long, Long)].head()
    assert(pd._1 == nFlows && pd._2 >= 0L && pd._3 <= 599L * 1000000L)
    val sl = SparkEntry.queries("q123_srv6_seglist")(spark, sf)
      .selectExpr("sum(n)").as[Long].head()
    assert(sl == nSegs)
  }

  // SessionWalk.mapRuns alone, no Spark: (key, seq) rows already sorted
  private def walk(rows: Seq[(Long, Int)])(
      handle: (Long, Iterator[(Long, Int)]) => IterableOnce[(Long, Int)])
      : Seq[(Long, Int)] =
    SessionWalk.mapRuns(rows.iterator)(_._1)(handle).toSeq

  test("mapRuns: a lazy handler reads every row of its run") {
    val rows = Seq((1L, 1), (1L, 2), (2L, 3), (2L, 4), (2L, 5), (3L, 6))
    assert(walk(rows)((k, run) => run.map(r => (k, r._2 * 10))) ==
      rows.map(r => (r._1, r._2 * 10)))
  }

  test("mapRuns: rows a handler leaves unread never reach the next run") {
    val rows = Seq((1L, 1), (1L, 2), (1L, 3), (1L, 4), (2L, 5),
      (3L, 6), (3L, 7))
    val keys = Seq.newBuilder[Long]
    // half of each run, read lazily; the first row each handler sees
    // must carry its own key
    val out = walk(rows) { (k, run) =>
      keys += k
      val n = rows.count(_._1 == k)
      run.take((n + 1) / 2).map { r => assert(r._1 == k); r }
    }
    assert(keys.result() == Seq(1L, 2L, 3L))
    assert(out == Seq((1L, 1), (1L, 2), (2L, 5), (3L, 6)))
  }

  test("mapRuns: empty input never calls the handler") {
    assert(walk(Nil)((_, _) => fail("handler called")).isEmpty)
  }

  test("mapRuns: runs of one row each") {
    val rows = Seq((4L, 1), (5L, 2), (6L, 3))
    assert(walk(rows)((k, run) => Iterator.single((k, run.size))) ==
      Seq((4L, 1), (5L, 1), (6L, 1)))
  }

  test("chunks: whole messages, at least ChunkBytes each, pulled lazily") {
    import SessionWalk.{ChunkBytes, chunks}
    // sizes straddle the threshold; one message alone exceeds it
    val rnd = new scala.util.Random(7)
    val msgs = (0 until 400).map { i =>
      val n = if (i == 150) ChunkBytes + 999 else 1 + rnd.nextInt(2000)
      Array.fill[Byte](n)(i.toByte)
    }
    var pulled = 0
    val counted = msgs.iterator.map { m => pulled += 1; m }
    val it = chunks(counted)
    val first = it.next()
    // the first chunk read exactly the messages it holds
    assert(msgs.take(pulled).map(_.length).sum == first.length)
    assert(first.length >= ChunkBytes &&
      msgs.take(pulled - 1).map(_.length).sum < ChunkBytes)
    val all = first +: it.toSeq
    assert(all.flatten == msgs.flatten)
    // every boundary is a message boundary
    val ends = msgs.scanLeft(0)(_ + _.length).toSet
    assert(all.scanLeft(0)(_ + _.length).forall(ends))
    assert(all.init.forall(_.length >= ChunkBytes))
    // a message is never split: one past ChunkBytes closes its chunk,
    // and lands alone when the chunk before it is full
    val big = chunks(Iterator(Array.fill[Byte](ChunkBytes)(1),
      Array.fill[Byte](ChunkBytes + 1)(2), Array[Byte](3))).toSeq
    assert(big.map(_.length) == Seq(ChunkBytes, ChunkBytes + 1, 1))
    assert(chunks(Iterator.empty).isEmpty)
  }
}
