package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Graft, Tables}

/** Physical-plan hygiene assertions — the properties that decide whether
  * a query survives a 100× scale-up: column pruning and predicate
  * pushdown must reach the parquet scan, dimension joins must broadcast
  * (never shuffle the fact side), and whole-stage codegen must cover the
  * hot path. Plan text is asserted so a regression in any operator
  * rewrite shows up as a failing spec, not a silent 10× slowdown.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val d = "/root/testdata/sf0.001"

  /** The whole plan a collecting lane ran ([[Graft.collectedPlan]]), one
    * operator a line: every adaptive plan by its final plan, every query
    * stage by its exchange, and every cached frame's scan followed by the
    * plan that filled the cache. AQE's text dump also prints each
    * adaptive plan's initial plan, cached frames' included, so the plan
    * is walked rather than printed. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan, depth: Int): Seq[String] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children
      }
      ("  " * depth + p.verboseString(Int.MaxValue)) +:
        (below ++ p.subqueries).flatMap(walk(_, depth + 1))
    }
    walk(Graft.collectedPlan(df).getOrElse(fail("not a collected lane answer")),
      0).mkString("\n")
  }

  test("column pruning reaches the parquet scan through the agg planner") {
    val plan = SparkEntry.queries("q01_agg_base")(spark, d)
      .queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("FileScan parquet"))
      .getOrElse(fail("no parquet scan in plan"))
    // lineitem has 16 columns; q01 uses 4 — the scan must read ONLY those
    val read = scan.substring(scan.indexOf("ReadSchema"))
    assert(read.count(_ == ':') <= 5, s"scan reads too many columns: $read")
  }

  test("raw-column predicates push down through the Tables loader") {
    // the events loader rewrites ts (nanos -> timestamp); that rewrite
    // must not break pushdown for untouched columns like event_type
    val plan = Tables.events(spark, d)
      .filter(col("event_type") === "click")
      .select("event_id")
      .queryExecution.executedPlan.toString
    val pushed = plan.split("\n").filter(_.contains("PushedFilters"))
      .mkString
    assert(pushed.contains("EqualTo(event_type,click)"),
      s"predicate did not reach the scan: $pushed")
  }

  test("LPM longest-match join never shuffles the fact side") {
    val plan = SparkEntry.queries("q20_networks_lpm")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "LPM joins must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge join here means the fact side shuffled")
    // the ONLY hash exchange allowed is the final aggregation
    val exchanges = plan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"$exchanges hash exchanges — fact side is being shuffled")
  }

  test("dimension enrichment joins broadcast, fact side stays in place") {
    val plan = SparkEntry.queries("q19_enrich_bcast")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      <= 1)
  }

  test("core aggregation is codegen'd with map-side partial aggregation") {
    val q = SparkEntry.queries("q01_agg_base")(spark, d)
    q.collect() // materialize so AQE finalizes the plan
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes are WholeStageCodegen spans over the hot operators
    assert(plan.contains("*(1) HashAggregate") ||
      plan.contains("*(1) ColumnarToRow"),
      s"hot aggregation path fell out of codegen")
    // partial_sum before the exchange = map-side combine: the shuffle
    // moves one row per (group, partition), not one row per input row
    assert(plan.contains("partial_sum"),
      "no map-side partial aggregation before the shuffle")
  }

  test("time-partitioned at-rest layout prunes partitions on the bin filter") {
    // The print sink's dynamic time-token tables (q102) put the history
    // bin in the directory key; a bin-filtered read must touch ONLY the
    // matching partitions (partition pruning, not data skipping) — the
    // property that makes a 100 TB multi-year archive queryable for one
    // day. Asserted on the scan's partition count, not plan text.
    Graft.withScratch("prune") { scratch =>
      val dir = scratch.toString
      import spark.implicits._
      (0L until 100L).map(i => (i, i % 10)).toDF("v", "bin")
        .write.partitionBy("bin").mode("overwrite").parquet(dir)
      val read = spark.read.parquet(dir).filter(col("bin") === 3)
      val scan = read.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec"))
      assert(scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters).map(_.files.size).sum ===
        scan.relation.location.listFiles(Nil, Nil)
          .map(_.files.size).sum / 10,
        "bin filter must prune to 1 of 10 partitions")
      assert(read.count() == 10L)
    }
  }

  test("bucketed tables merge-join with zero exchange below the join") {
    // q236 writes orders+lineitem bucketed on the join key; the later
    // join must read bucket i against bucket i in place — the only
    // exchange in the whole plan is the final groupBy. At 100 TB this
    // is the difference between re-shuffling both fact tables per join
    // and never shuffling them again after the one-time bucketed write.
    val plan = finalPlan(SparkEntry.queries("q236_bucket_join")(spark, d))
    assert(plan.contains("SortMergeJoin"),
      s"bucket co-location demo must keep the merge join:\n$plan")
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"$exchanges exchanges — the bucketed join is shuffling:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scans are not bucket-aware:\n$plan")
  }

  test("streamed bucket appends compact to one sorted file per bucket") {
    // q239: micro-batches append per-batch bucket files (fragmenting),
    // compaction folds them to exactly one sorted file per bucket, and
    // the downstream merge join then reads bucket i against bucket i
    // with zero exchange (only the bounded per-bucket sort remains —
    // Spark does not exploit sortBy metadata in merge joins). This is
    // the archive-maintenance loop: only the newest data fragments,
    // history never re-shuffles.
    import graft.operators.ScaleQueries
    // the lane's body over a directory this test owns, so the tables are
    // still there to count after the collect
    val plan = Graft.withScratch("graft_bstream") { wh =>
      try {
        val q = Graft.collectLocal(
          ScaleQueries.bucketStreamCompact(spark, d, wh))(())
        // 3 micro-batch appends fragmented the live table...
        assert(spark.table("graft_bs_lineitem").inputFiles.length > 16,
          "appends should land per-batch bucket files")
        // ...and compaction folded them to exactly one file per bucket
        assert(spark.table("graft_bs_lineitem_c").inputFiles.length == 16,
          "compaction must produce exactly one file per bucket")
        finalPlan(q)
      } finally ScaleQueries.bucketStreamTables
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    assert(plan.contains("SortMergeJoin"),
      s"compacted join must stay a merge join:\n$plan")
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"$exchanges exchanges — the compacted join is shuffling:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scans are not bucket-aware:\n$plan")
  }

  test("vec_dot matches the zip_with fold bit-for-bit and stays in codegen") {
    import spark.implicits._
    val df = Seq((Array(1.5, -2.25, 3.125, 0.1), Array(0.5, 4.0, -1.75, 0.3)))
      .toDF("a", "b")
    val native = df.select(graft.plans.Vec.dot(col("a"), col("b")))
      .as[Double].head()
    val hof = df.selectExpr(
      "aggregate(zip_with(a, b, (p, w) -> p * w), 0D, (a, z) -> a + z)")
      .as[Double].head()
    assert(java.lang.Double.doubleToLongBits(native) ==
      java.lang.Double.doubleToLongBits(hof))
    // the expression must not force a codegen fallback in a projection
    // over a real scan (a local literal would just constant-fold)
    val q = Tables.embeddings(spark, d)
      .selectExpr("transform(embedding, x -> cast(x as double)) as v")
      .select(graft.plans.Vec.dot(col("v"), col("v")).as("dp"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("vec_dot"),
      s"vec_dot fell out of codegen:\n$plan")
  }

  test("PQ/ADC scans the coded corpus with broadcast-only joins") {
    val plan = finalPlan(SparkEntry.queries("q266_pq_adc")(spark, d))
    // centroids, codes-side LUT and the query set are all broadcast;
    // a sort-merge join would mean the corpus (raw or coded) was
    // shuffled against model-sized tables — the cost ADC exists to
    // avoid
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled against model tables:\n$plan")
  }

  test("scaled-K PQ: in-plan K derivation, broadcast-only model joins") {
    val plan = finalPlan(SparkEntry.queries("q331_pq_scaled_k")(spark, d))
    // same contract as q266 — centroids, LUT and query set broadcast,
    // the corpus never shuffled against a model table — plus the K
    // derivation must ride a broadcast into the seed filter (one 1-row
    // nested-loop join), not a driver collect
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled against model tables:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the K seed filter should be a broadcast 1-row join:\n$plan")
    // nested-loop joins in this plan are 1-ROW broadcasts only: the K
    // seed filter plus the row-local assign's one-row codebook arrays
    // (r17 — each assign crossJoins a single collect_list row instead
    // of joining the corpus against the codebook). The walked plan
    // repeats them once per scan of the codebook cache (each scan is
    // followed by the plan that filled it), so the ceiling is that
    // repetition bound, not a join-count budget.
    assert(
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 12,
      s"more nested-loop joins than the seed filter + 1-row " +
        s"codebook arrays:\n$plan")
  }

  test("PQ re-rank: broadcast-only model joins, ≤2 executing corpus scans") {
    val plan = finalPlan(SparkEntry.queries("q335_pq_rerank")(spark, d))
    // the refine stage's contract: the shortlist (queries×50) and the
    // exact-truth table are broadcast/cached, the raw-vector fetch for
    // re-ranking rides a broadcast semi-join — the corpus is never
    // shuffled against a model table, and the FINAL plan executes at
    // most 2 corpus scans (the re-rank fetch + the query-id leg);
    // everything else reads the persisted model-sized caches
    assert(plan.contains("BroadcastHashJoin"),
      s"re-rank joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled against model tables:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("IVF stream ingest: serving plan broadcast-only over the index") {
    val plan =
      finalPlan(SparkEntry.queries("q336_ivf_stream_ingest")(spark, d))
    // the assembled index is the only corpus-scale input to the
    // serving legs: probes and the codebook ride broadcasts; a
    // sort-merge join would mean the index was shuffled against a
    // model table. (Assignment-time shape is per-batch inside
    // foreachBatch — the monotone/multi-batch contract is a runtime
    // require in the lane itself.)
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"index shuffled against model tables:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("retraction lanes: request-sized state broadcast, no corpus SMJ") {
    // q337: affected keys / takedown list / recon ledger are all
    // request-sized and broadcast — the corpus is never shuffled
    // against them. q338: same for the tombstone filter and the
    // 4-row codebook; probes ride broadcasts into the index scan.
    Seq("q337_dedup_retraction" ->
        finalPlan(SparkEntry.queries("q337_dedup_retraction")(spark, d)),
      "q338_ann_retraction" ->
        finalPlan(SparkEntry.queries("q338_ann_retraction")(spark, d)))
      .foreach { case (nm, plan) =>
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$nm reconciliation joins must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$nm shuffled the corpus against request-sized state:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$nm cartesian:\n$plan")
    }
  }

  test("IVF+PQ: model joins broadcast; shuffles only on corpus keys") {
    val plan = finalPlan(SparkEntry.queries("q286_ivf_pq")(spark, d))
    // coarse centroids, PQ codebook, probes and LUTs are all
    // broadcast-sized. The ONE legitimate shuffle join is Lloyd's
    // rejoin of the argmin assignment with the residual long form —
    // corpus × corpus co-partitioned on (vec_id, m), the correct
    // 100 TB plan. Any other SMJ means a model table was shuffled.
    assert(plan.contains("BroadcastHashJoin"),
      s"IVF+PQ joins must broadcast:\n$plan")
    plan.split("\n").filter(_.contains("SortMergeJoin")).foreach { ln =>
      assert(ln.contains("vec_id"),
        s"non-training sort-merge join in the IVF+PQ pipeline: $ln")
    }
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the IVF+PQ pipeline:\n$plan")
  }

  test("codec lanes: mapPartitions decode + at most 2 exchanges, no SMJ") {
    // the r8 media/text codec gates are mapPartitions-shaped decode
    // drives whose only shuffle is the final verification aggregate;
    // pin that shape so a refactor can't silently grow a join or a
    // second corpus shuffle into them (recorded sweep: BENCH_NOTES r9)
    val lanes = Seq("q267_jpeg_decode", "q270_png_decode",
      "q272_multipattern_scan", "q273_gif_decode", "q274_html_extract",
      "q276_jpeg_420", "q277_jpeg_progressive", "q282_webp_decode",
      "q288_warc_pipeline", "q289_tiff_decode", "q291_robots_filter",
      "q292_mp3_walk", "q295_mp4_walk", "q298_nfc_normalize",
      "q299_stun_reflexive", "q300_sitemap")
    lanes.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name grew a sort-merge join:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name grew a cartesian product:\n$plan")
      val exchanges = "(?<!Reused)Exchange".r
        .findAllIn(plan).size
      assert(exchanges <= 2,
        s"$name has $exchanges exchanges past the decode:\n$plan")
    }
  }

  test("round-11 lanes: q303 codec shape, q246 broadcast-only " +
    "reconciliation, global-audit invariants hold on new lanes") {
    // q303 joins the codec-lane family: mapPartitions decode + one
    // verification aggregate, nothing else may grow into it
    val p303 = SparkEntry.queries("q303_tiff_wide")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p303.contains("SortMergeJoin") &&
      !p303.contains("CartesianProduct"), p303)
    assert("(?<!Reused)Exchange".r.findAllIn(p303).size <= 2, p303)
    // q246's reconciliation frames are ≤ k·|Q| rows at ANY corpus
    // scale — the joins must be broadcast by hint, not runtime stats
    val p246 = SparkEntry.queries("q246_ann_recall")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p246.contains("SortMergeJoin"),
      s"q246 reconciliation fell back to sort-merge:\n$p246")
    assert(!p246.contains("CartesianProduct"), p246)
  }

  test("round-11 late lanes: q313 broadcast prune, q315 map-only " +
    "recursion feeding hash aggs") {
    // q313: the query-term table is MODEL-sized — it must broadcast
    // against the exploded token stream (a sort-merge join there
    // shuffles the full corpus for a 14-row filter), and the final
    // per-query top-k runs TopK's bounded heap, not a window sort
    val p313 = SparkEntry.queries("q313_bm25_retrieval")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p313.contains("BroadcastHashJoin"),
      s"q313 query-term prune must broadcast:\n$p313")
    assert(!p313.contains("SortMergeJoin") &&
      !p313.contains("Window"), s"q313 shape regressed:\n$p313")
    // q315: the doubling recursion is row-local — the plan up to the
    // class aggregations must be one map lane (flatMap over the scan),
    // with no join and no sort anywhere (ordering is never needed)
    val p315 = SparkEntry.queries("q315_suffix_prefix_doubling")(
      spark, d).queryExecution.executedPlan.toString
    assert(!p315.contains("SortMergeJoin") &&
      !p315.contains("CartesianProduct"), s"q315 grew a join:\n$p315")
    // q317 runs its corpus passes eagerly inside the query (the
    // returned frame is the collected seed report); its per-pass
    // shapes are broadcast crossJoins by construction — pin the
    // RESULT contract instead: k centers + R phis + coreset size
    val r317 = SparkEntry.queries("q317_kmeans_parallel_seed")(
      spark, d).collect()
    assert(r317.count(_.getString(0) == "center") == 5 &&
      r317.count(_.getString(0) == "phi") == 3, r317.mkString(","))
    val phis = r317.filter(_.getString(0) == "phi")
      .sortBy(_.getString(1)).map(_.getLong(2))
    assert(phis.head >= phis.last,
      s"oversampling must not worsen phi: ${phis.toSeq}")
  }

  test("round-9 lanes: qdigest + ASA biflow keep broadcast-only shapes") {
    // q281: the native q-digest rides Spark's partial/final aggregate
    // shuffle; the verification probe joins the per-source digest back
    // BROADCAST — a sort-merge join would shuffle the corpus against a
    // group-cardinality summary. q283: a decode drive like the codec
    // lanes — no joins at all may grow into it. The remaining round-9
    // lanes (q279/q280/q284) are live-socket group-membership drives
    // whose plans are driver-orchestrated socket I/O + a final tiny
    // aggregate — no corpus plan to pin (BENCH_NOTES r10).
    Seq("q281_qdigest_native", "q283_asa_bi_flow").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name grew a sort-merge join:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name grew a cartesian product:\n$plan")
    }
    val p281 = SparkEntry.queries("q281_qdigest_native")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p281.contains("qdigest_quantile"),
      s"q281 no longer runs the native aggregate:\n$p281")
    assert(p281.contains("BroadcastHashJoin"),
      s"q281 verification probe must broadcast the digests:\n$p281")
  }

  test("wire lanes: one decode drive, no join, no extra shuffle") {
    // each exporter or BGP/BMP session run streams encode → decode into
    // the lane's own aggregate (or one row per session), so the plan is
    // the session shuffle plus Spark's partial/final aggregate: no
    // shuffled join may grow in (q164 and q184 broadcast their RIB into
    // the flows), and the shuffle count stays at the hand-folded version's
    // (q180's at its one-decode count: two decodes and a join took 5)
    val maxShuffles = Map("q57_nfv9_templates" -> 2, "q73_nfv9_options" -> 3,
      "q91_ipfix_vlen" -> 2, "q120_nat_event" -> 3, "q121_fw_event" -> 3,
      "q125_nfprobe_v9" -> 3, "q139_abs_timestamps" -> 2,
      "q154_ipfix_biflow" -> 2, "q167_pen_tag_label" -> 2,
      "q247_nfprobe_ipfix" -> 3, "q283_asa_bi_flow" -> 1,
      "q137_collector_health" -> 1, "q189_templates_receiver" -> 1,
      "q241_bad_datagram_accounting" -> 2,
      "q93_bgp_wire" -> 3, "q97_bmp_wire" -> 3, "q112_bgp_addpath" -> 4,
      "q118_bgp_mp_ipv6" -> 3, "q153_bgp_vpnv4" -> 3,
      "q161_bgp_aigp_psid" -> 3, "q162_bgp_ls" -> 3,
      "q180_bgp_ls_v6mt" -> 3, "q184_aspath_post" -> 3,
      "q185_bmp_proxy" -> 3, "q132_bgp_rr" -> 2, "q164_ecomm_blackhole" -> 2,
      "q188_bgp_xconnect" -> 2, "q133_bmp_mirror" -> 1,
      "q163_bmp_locrib" -> 1, "q174_bmp_stats" -> 1, "q181_bmp_ribout" -> 1)
    maxShuffles.foreach { case (name, max) =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name grew a sort-merge join:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name grew a cartesian product:\n$plan")
      val shuffles = "(?<!Broadcast)(?<!Reused)Exchange".r
        .findAllIn(plan).size
      assert(shuffles <= max, s"$name shuffles $shuffles times:\n$plan")
    }
    // the two RIBs that flows look up stay broadcast
    Seq("q164_ecomm_blackhole", "q184_aspath_post").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name no longer broadcasts its RIB:\n$plan")
    }
  }

  test("q278 gate reads the exploded corpus at most twice") {
    // the MG sketch pass and the ground-truth exact pass are the two
    // irreducible corpus reads; totals/heavy derive from the CACHED
    // exact aggregate, so no third explode of the token stream may
    // appear outside the cache (the r8 review's triple-scan finding)
    val q = SparkEntry.queries("q278_misra_gries")(spark, d)
    val plan = Graft.collectedPlan(q)
      .getOrElse(fail("q278 no longer collects"))
    import org.apache.spark.sql.execution.SparkPlan
    def liveScans(p: SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        liveScans(a.inputPlan)
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        0 // cached: materializes once regardless of fan-out
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        0 // reused: the shared exchange is counted where it lives
      case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case other => other.children.map(liveScans).sum
    }
    // the sketch leg is broadcast into two probes; its two textual
    // copies are identical exchanges AQE's reuse collapses at runtime,
    // and the cached exact pass reads the corpus once more -> at most
    // 2 distinct corpus reads execute (pre-fix: 6 uncached subtrees)
    val live = liveScans(plan)
    assert(live <= 2, s"corpus scanned $live times outside the cache:\n$plan")
    assert(plan.toString.contains("InMemoryTableScan"),
      "exact counts must be cached for the verification legs")
    assert(!plan.toString.contains("SortMergeJoin"),
      s"summary joins must broadcast:\n$plan")
  }

  test("broadcast-model LM scoring joins the model map-side only") {
    val q = SparkEntry.queries("q255_lm_perplexity_bcast")(spark, d)
    val plan = q.queryExecution.executedPlan.toString
    // both model joins (c_ab, c_a) and the vocab scalar must broadcast;
    // a sort-merge join anywhere means the corpus bigram stream was
    // shuffled against the model — the exact q243 cost this variant
    // exists to remove
    assert(plan.contains("BroadcastHashJoin"),
      s"model joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus stream shuffled against the model:\n$plan")
  }

  test("q326 SNI-app classification is a pure map lane") {
    val plan = SparkEntry.queries("q326_sni_apps")(spark, d)
      .queryExecution.executedPlan.toString
    // one corpus scan, the per-row hello/SNI/suffix path, one partial
    // agg — no joins of any kind (the hostname table is a broadcast
    // Scala map inside the lambda, not a plan-level join)
    assert(!plan.contains("Join"), s"q326 must not join:\n$plan")
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("q327/q330 return materialized survivors, not cascade lineage") {
    // both streaming-cascade lanes run their work EAGERLY (stream +
    // fold) and must hand back a plan that only scans the landed
    // survivors — the first cut of q330 returned the lazy fold and
    // PlanAudit counted the claim_feat scan 28 times in its lineage
    Seq("q327_stream_dedup_cascade", "q330_ooo_dedup_reconcile")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, d)
        val plan = finalPlan(df)
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("BroadcastHashJoin"),
          s"$name must not re-derive the cascade:\n$plan")
        val scans = plan.split("\n").count(_.contains("FileScan parquet"))
        assert(scans <= 1, s"$name scans=$scans:\n$plan")
        // and the answer itself is non-trivial: survivors + 2 meta rows
        assert(df.count() > 2, name)
      }
  }

  test("partitioned-at-rest layout prunes: time-bounded read scans " +
      "only the matching partition files") {
    val (aggRows, ev) = graft.operators.ScaleQueries
      .pruningEvidence(spark, d)
    assert(ev.pfPresent, "scan carries no partition filters")
    assert(ev.filesScanned < ev.filesTotal,
      s"no pruning: scanned ${ev.filesScanned} of ${ev.filesTotal}")
    assert(ev.filesScanned == ev.filesMatching,
      s"scanned ${ev.filesScanned} != matching ${ev.filesMatching}")
    assert(aggRows.nonEmpty && aggRows.map(_._2).sum > 0)
  }

  test("PlanAudit BNLJ pin follows a reused exchange to its build") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec}
    // the build side a nested loop over `build` broadcasts, re-read
    // through a ReusedExchange as AQE's exchange reuse would plan it
    def reused(build: DataFrame): ReusedExchangeExec = {
      val plan = spark.range(5).toDF("v").crossJoin(broadcast(build))
        .queryExecution.executedPlan
      val b = PlanAudit.bnljNodes(plan).head
      val side = if (b.buildSide == BuildLeft) b.left else b.right
      val ex = side.collectFirst { case e: BroadcastExchangeExec => e }.get
      ReusedExchangeExec(ex.output, ex)
    }
    val global = spark.range(10).groupBy().count()
    val keyed = spark.range(10).groupBy(col("id") % 3).count()
    assert(PlanAudit.isModelBuild(reused(global)),
      "reuse of a one-row global-agg build must satisfy the pin")
    assert(!PlanAudit.isModelBuild(reused(keyed)),
      "reuse of a keyed-aggregate build must NOT satisfy the pin")
  }
}
