package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{MediaIn, MultimodalQueries}
import graft.text.TextOps

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("tokenizer + minhash signature is order-insensitive over sets") {
    val df = Seq("the quick brown fox", "fox brown quick the").toDF("text")
      .selectExpr(s"array_distinct(${TextOps.sparkHps}) as hs")
      .selectExpr(TextOps.sparkMinhash("hs", 0) + " as s0",
        TextOps.sparkMinhash("hs", 3) + " as s3")
    val rows = df.as[(Long, Long)].collect()
    assert(rows(0) == rows(1))
  }

  test("fingerprint is position sensitive") {
    val fp = Seq("alpha beta", "beta alpha").toDF("text")
      .selectExpr(s"${TextOps.sparkFingerprint} as fp")
      .as[Long].collect()
    assert(fp(0) != fp(1))
  }

  test("quality score lands in [0,1]") {
    val q = Seq("a a a a", "substantial documents carry longer tokens words")
      .toDF("text").selectExpr(s"${TextOps.sparkQuality} as q")
      .as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1) > q(0)) // stopword-heavy short doc scores lower
  }

  test("multimodal stub decode: checksum and framing arithmetic") {
    val m = MultimodalQueries.decodeStub(
      MediaIn(7L, "abc".getBytes("UTF-8")))
    assert(m.n_bytes == 3L)
    assert(m.magic == 'a'.toLong)
    assert(m.checksum100 == ('a' + 'b' + 'c').toLong)
    assert(m.n_frames == 0L)
  }

  test("langid predicts a stable language for identical text") {
    val p = Seq("data table scan", "data table scan").toDF("text")
      .selectExpr(s"${TextOps.sparkLangPredict(TextOps.sparkHps)} as p")
      .as[String].collect()
    assert(p(0) == p(1) && TextOps.langs.contains(p(0)))
  }

  test("SQL function registry: formatters and named-table LPM") {
    import graft.functions.GraftFunctions
    import graft.plans.Lpm
    GraftFunctions.registerLpmTable("spec_nets",
      new Lpm.Table(16, Seq((0L, 1, 77L))))
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_proto_name(6) AS p, graft_ip_ntoa(258) AS ip,
         graft_lpm(5, 'spec_nets') AS asn,
         graft_lpm(40000, 'spec_nets') AS miss,
         graft_ts_compose(1500000) AS ts""")
      .as[(String, String, Option[Long], Option[Long], String)].head()
    assert(r == (("tcp", "10.1.2", Some(77L), None, "1.500000")))
    // unknown table name surfaces as an analysis-time error
    val ex = intercept[Exception](
      spark.sql("SELECT graft_lpm(1, 'nope')").collect())
    assert(ex.getMessage.contains("no LPM table registered"))
    // v6 two-limb spelling of the same function, one registry
    GraftFunctions.registerLpmTable("spec_nets6",
      Lpm.Table.v6(Seq((0x2001L << 48, 0L, 24, 88L))))
    val r6 = spark.sql(
      s"""SELECT graft_lpm6(${(0x2001L << 48) + 5}, 7, 'spec_nets6') AS hit,
          graft_lpm6(${0x3001L << 48}, 0, 'spec_nets6') AS miss""")
      .as[(Option[Long], Option[Long])].head()
    assert(r6 == ((Some(88L), None)))
    // the Misra-Gries aggregate through SQL text: 'a' x4, 'b' x2, 'c'
    // with k=3 -> 2 counters; 'a' (freq > N/3) must be present with an
    // under-estimate
    val mg = spark.sql(
      """SELECT misra_gries(t, 3) FROM VALUES ('a'), ('a'), ('b'),
         ('a'), ('c'), ('a'), ('b') AS v(t)""")
      .head().getAs[Map[String, Long]](0)
    assert(mg.size <= 2 && mg.contains("a"))
    assert(mg("a") <= 4 && 4 - mg("a") <= 7 / 3)
    val bad = intercept[Exception](
      spark.sql("SELECT misra_gries(t, id) FROM VALUES ('a', 1) AS v(t, id)")
        .collect())
    assert(bad.getMessage.contains("literal"))
    // non-string input fails at ANALYSIS time, not with a runtime
    // ClassCastException inside the aggregate
    val mistyped = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT misra_gries(id, 3) FROM VALUES (1), (2) AS v(id)")
        .collect())
    assert(mistyped.getMessage.toLowerCase.contains("type"))
  }

  test("literal arguments: NULL or non-integer literals name the argument") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import graft.functions.GraftFunctions
    val build = GraftFunctions.builders.toMap
    val v = Literal(1)
    def rejects(fn: String, args: Expression*)(named: String) = {
      val ex = intercept[IllegalArgumentException](build(fn)(args))
      assert(ex.getMessage.contains(named), ex.getMessage)
    }
    rejects("graft_pq_codes", v, v, Literal(null))("graft_pq_codes sub")
    rejects("graft_pq_codes", v, v, Literal(1.5))("graft_pq_codes sub")
    rejects("graft_opq_codes", v, v, Literal("two"))("graft_opq_codes msub")
    rejects("hll_distinct", v, Literal(null))("hll_distinct p")
    rejects("qdigest_quantile", v, Literal("median"), Literal(8))(
      "qdigest_quantile q")
    // the LPM table name goes through the same literal helper
    rejects("graft_lpm", v, Literal(null))("LPM table name")
    rejects("graft_lpm6", v, v, Literal(null))("LPM table name")
    // and the SQL surface reports the argument by name
    val sqlEx = intercept[Exception](
      spark.sql("SELECT graft_pq_codes(array(1.0D), array(array(1.0D)), " +
        "CAST(NULL AS INT))").collect())
    assert(sqlEx.getMessage.contains("graft_pq_codes sub must not be NULL"),
      sqlEx.getMessage)
    val nonLit = intercept[Exception](spark.sql(
      "SELECT graft_lpm(1, name) FROM VALUES ('spec_nets') AS v(name)")
      .collect())
    assert(nonLit.getMessage.contains("LPM table name must be a literal"))
  }

  test("typed Dataset[FlowRecord] round-trips the flow view") {
    import graft.core.{FlowView, Tables}
    val ds = FlowView.typed(Tables.events(spark, "/root/testdata/sf0.001"))
    val first = ds.orderBy("event_id").head()
    assert(first.bytes > 0 && first.t1u >= first.t0u)
    assert(ds.filter(_.ip_proto == 6L).count() > 0)
  }

  test("FlowSchema covers the primitive families") {
    import graft.core.FlowSchema
    val names = FlowSchema.schema.fieldNames.toSet
    // one representative per family (SURVEY par.1.1 struct table)
    Seq("mac_src", "ip_src", "as_path", "post_nat_ip_src",
      "mpls_label_top", "tunnel_ip_src", "bytes", "timestamp_start")
      .foreach(f => assert(names.contains(f), s"missing $f"))
    assert(FlowSchema.schema.fields.length > 60)
  }

  test("cosine fold matches analytic value") {
    val sim = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
      .selectExpr(
        """aggregate(zip_with(a, b, (p, q) -> cast(p as double) * q),
           0D, (acc, z) -> acc + z) as dot""")
      .as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("q320 composed pipeline: funnel monotone, conservation laws hold") {
    val rows = SparkEntry.queries("q320_training_pipeline")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    def f(k: String) = rows(("funnel", k))
    // docs and surviving tokens never grow across the funnel
    val order = Seq("00_ingest", "02_robots", "03_quality", "04_exact",
      "05_near", "06_substr", "07_decontam", "08_rebalance")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(f(a)._1 >= f(b)._1 && f(a)._2 >= f(b)._2,
        s"funnel grew $a -> $b: ${f(a)} -> ${f(b)}")
    }
    // the extracted-corpus checksum is a real fingerprint, not zero
    assert(rows(("funnel", "01_extract_ck"))._2 > 0L)
    // conservation: final tokens = packed tokens = mix total = shards
    val fin = f("08_rebalance")
    // .toSeq first: Map#collect over tuple results would rebuild a
    // Map and silently dedup equal (n, v) pairs across shards
    val mix = rows.toSeq.collect { case (("mix", _), nv) => nv }
    val shards = rows.toSeq.collect { case (("shard", _), nv) => nv }
    assert(rows(("pack", "sequences"))._2 == fin._2)
    assert(mix.map(_._1).sum == fin._1 && mix.map(_._2).sum == fin._2)
    assert(shards.map(_._1).sum == fin._1 &&
      shards.map(_._2).sum == fin._2)
    // packing: every 512-token budget must be needed (seq count is
    // ceil-bounded below by totals)
    val nSeq = rows(("pack", "sequences"))._1
    assert(nSeq >= (fin._2 + 511) / 512, s"too few sequences $nSeq")
  }
}
