package graft

import graft.core.Graft

/** Global plan audit (VERDICT r10 #8): build EVERY registered query and
  * assert the fleet-wide physical-plan invariants that PlanSpec pins
  * per-lane, so new queries are born covered:
  *
  *   - no CartesianProduct anywhere;
  *   - no SortMergeJoin outside the pinned exceptions (the bucketed
  *     at-rest lanes, where an exchange-free merge join is the POINT,
  *     and the IVF training rejoin, co-partitioned by construction);
  *   - no BroadcastNestedLoopJoin outside pinned model-sized lanes;
  *   - Exchange count per final plan within a loose global ceiling
  *     (streaming/socket lanes return small reconciliation frames; a
  *     runaway exchange count flags a lane for a real audit).
  *
  * Usage: runMain graft.PlanAudit [qname ...] — no args sweeps all.
  * Prints one line per query and a final VIOLATIONS block; exits 1 on
  * any violation. NOTE the sweep EXECUTES each query builder (many
  * lanes replay fixtures or drive live sockets to produce their result
  * frame), so a full run costs about one Verify pass.
  */
object PlanAudit {

  /** Lanes where a SortMergeJoin is the asserted-correct shape. */
  val smjAllowed: Set[String] = Set(
    "q236_bucket_join",        // bucketBy+sortBy merge join, 0 exchanges
    "q239_bucket_stream_compact", // same layout after compaction
    "q286_ivf_pq",             // Lloyd rejoin co-partitioned on (vec_id, m)
    // corpus-scale × corpus-scale keyed joins — broadcast would be
    // WRONG at 100 TB, the keyed shuffle join is the designed shape:
    "q116_semantic_dedup",     // assigned(N) left-join drops(≤N) on vec_id
    "q144_quality_keeplist",   // corpus left-ANTI drop-list(≤N) on doc_id
    "q306_rocchio_classifier"  // held-out(N) ⟕ per-class dots(5N) on
                               // (doc_id, clang) — the former 5×5
                               // tournament self-join is now a per-doc
                               // array argmax (r12 repeated-scan fix)
  )

  /** Model-sized nested-loop joins (inequality pairs over ≤ dozens of
    * rows, broadcast) that are cheaper than any shuffle alternative. */
  val bnljAllowed: Set[String] = Set(
    "q297_kmv_sketch",         // 5-row sketch table inequality pairs
    "q281_qdigest",            // rank-band self-pairs on a tiny frame
    "q103_sequence_packing",   // bin pairing over the bounded bin table
    "q165_substring_dedup",    // window-hash band pairs, blocked
    "q182_curriculum",         // stage boundary pairs over ≤10 stages
    "q116_semantic_dedup",     // broadcast-centroid assign (k=√N cap),
                               // ×2 in lineage on both self-join sides
    "q331_pq_scaled_k",        // the 1-row corpus-count → K seed join
                               // + the row-local assign's 1-row
                               // codebook arrays (r17), repeated in
                               // lineage via the codebook cache's
                               // build plan (PlanSpec pins ≤12)
    "q266_pq_adc",             // row-local assign (r17): each assign
                               // crossJoins ONE collect_list row
                               // (M*K*sub codebook), repeated through
                               // the codes/LUT legs' lineage
    "q335_pq_rerank",          // same 1-row codebook arrays through
                               // the shortlist/re-rank legs
    "q286_ivf_pq",             // 1-row coarse-cell + PQ codebook
                               // arrays through cells/residual/codes
                               // legs (two quantizer stages => more
                               // lineage repeats)
    "q338_ann_retraction",     // the 4-row broadcast codebook crossed
                               // into the assignment legs (index build
                               // + query probes); repeats in the
                               // string via the cached cell-stats
                               // frame's build lineage
    "q339_pq_scaled_rerank",   // q331's 1-row corpus-count → K seed
                               // join, one more lineage repeat than
                               // q331 (the rr/book legs also carry
                               // the codebook cache's build plan)
    "q343_opq_permutation"     // TWO 1-row broadcast model seats —
                               // the q331 corpus-count → K seed and
                               // the 64-slot permutation array the
                               // corpus reads via element_at (never a
                               // join) — repeated through the
                               // recall/alloc/balance/book legs'
                               // reads of the alloc/codebook caches'
                               // build plans
  )

  /** Row-local PQ/k-means lanes whose BNLJ waiver is structurally
    * pinned: every nested-loop build side must resolve to a global
    * (no-grouping-key) aggregate — the one-row broadcast codebook /
    * scalar-model shape — or driver literals. q338/q116 stay on the
    * plain allowlist: their model frames are small KEYED aggregates
    * (4 cells / √N centroids), a different documented shape. */
  val bnljGlobalBuildPinned: Set[String] = Set(
    "q266_pq_adc", "q286_ivf_pq", "q331_pq_scaled_k",
    "q335_pq_rerank", "q339_pq_scaled_rerank", "q343_opq_permutation")

  /** All BroadcastNestedLoopJoin nodes, recursing through AQE wrappers. */
  def bnljNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      bnljNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      bnljNodes(q.plan)
    case b: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec =>
      b +: b.children.flatMap(bnljNodes)
    case other => other.children.flatMap(bnljNodes)
  }

  /** True iff a BNLJ build-side subtree is the model shape: unwraps
    * exchanges (a reused one through to the exchange it re-reads) /
    * codegen / AQE wrappers / projections down to the first
    * substantive node, which must be a global aggregate (the one-row
    * collect_list codebook) or driver literals. */
  def isModelBuild(p: org.apache.spark.sql.execution.SparkPlan)
      : Boolean = {
    import org.apache.spark.sql.execution._
    p match {
      case e: exchange.BroadcastExchangeExec => isModelBuild(e.child)
      case r: exchange.ReusedExchangeExec => isModelBuild(r.child)
      case w: WholeStageCodegenExec => isModelBuild(w.child)
      case i: InputAdapter => isModelBuild(i.child)
      case q: adaptive.QueryStageExec => isModelBuild(q.plan)
      case a: adaptive.AdaptiveSparkPlanExec => isModelBuild(a.executedPlan)
      case pr: ProjectExec => isModelBuild(pr.child)
      case h: aggregate.HashAggregateExec => h.groupingExpressions.isEmpty
      case o: aggregate.ObjectHashAggregateExec =>
        o.groupingExpressions.isEmpty
      case sa: aggregate.SortAggregateExec => sa.groupingExpressions.isEmpty
      case _: LocalTableScanExec => true
      case _ => false
    }
  }

  /** Verification harnesses that UNION several independently
    * aggregated branches (a parameter sweep, a multi-lane
    * reconciliation): each leg pays its own partial-agg exchange, so
    * the per-plan total exceeds the ceiling while every individual
    * pipeline stays 1–2 exchanges deep. Audited by reading the lanes,
    * not waived blind. */
  val multiBranchAllowed: Set[String] = Set(
    "q175_lsh_sweep",          // (bands, rows) parameter sweep union
    "q243_lm_perplexity_filter", // DELIBERATE full-shuffle exact-model
                               // reference lane (broadcast twin: q255)
    "q255_lm_perplexity_bcast", // model build + 3 verification legs
    "q323_kneser_ney_lm",      // model build + FOUR count-table
                               // derivations (c1/nf/nb/B) — each an
                               // aggregation over the CACHED ≤B-row
                               // bigram table, never the corpus
    "q322_quality_ensemble",   // same shape: LM model build + model-
                               // sized derivations over the driver-
                               // literal trigram table + the short-doc
                               // union leg; zero joins on the corpus
                               // after the r12 carry-through rewrite
    "q328_kn_trigram",         // five count-table derivations (ctx/
                               // typ/mid/low/B), each an aggregation
                               // over the <=16.5k-row driver-literal
                               // trigram model — the corpus itself
                               // pays exactly 2 exchanges (per-doc +
                               // per-source aggs)
    "q278_misra_gries",        // exact-vs-sketch: both read the corpus
    "q252_containment_dedup",  // prefix-filter blocking + 2 verify legs
    "q297_kmv_sketch",         // per-source sketch + distinct-truth legs
    "q72_dedup_keeplist",      // dedup chain + keeplist reconciliation
    "q74_incremental_dedup",   // generation-over-generation union
    "q144_quality_keeplist",   // quality chain + anti-join verification
    "q306_rocchio_classifier", // train leg + score leg + argmax +
                               // confusion/profile rollups
    "q308_image_dhash",        // hash build + band self-join + three
                               // verification rollups
    "q335_pq_rerank",          // q266's training lineage (carried in
                               // the cached codebook/shortlist/truth
                               // build plans the string shows) + three
                               // verification legs (recall_rr,
                               // recall_adc, shortlist sizes); the
                               // EXECUTING corpus scans are 2 (audited
                               // above via scanCeiling)
    "q337_dedup_retraction",   // five-leg reconciliation union (pre
                               // checksum, post rollup, takedown /
                               // affected / resurrected ledgers) over
                               // the cached request-sized recon state;
                               // the corpus pays 2 executing scans
                               // (pre index + the post carry leg)
    "q336_ivf_stream_ingest",  // frozen-quantizer training lineage
                               // (the cached cc1/cbArr build plans) +
                               // three serving legs (cell stats,
                               // probe top-5, ingest meta); the
                               // corpus-scale scans are the index
                               // read + the query panel (scans=2)
    "q338_ann_retraction",     // same model lineage + three serving
                               // legs (cell/tomb accounting from the
                               // cached 4-row stats frame, live probe
                               // top-5); corpus pays 2 executing scans
    "q339_pq_scaled_rerank"    // q331's scaled-training lineage +
                               // q335's four verification legs
                               // (recall_rr, recall_adc, codebook, k);
                               // executing corpus scans = 4 (audited
                               // at the scanCeiling)
  )

  /** Iterative lanes (per-generation persist loops) whose FINAL plan
    * text carries every generation's lineage — exchange counts over
    * the concatenated lineage are not a per-pass metric there (their
    * per-pass shapes are pinned in PlanSpec instead). */
  val iterativeLanes: Set[String] = Set(
    "q85_dedup_clusters",      // LSH cluster convergence generations
    "q286_ivf_pq",             // Lloyd iterations
    "q245_kmeans_embeddings",  // Lloyd iterations
    "q266_pq_adc",             // per-subspace codebook training passes
    "q331_pq_scaled_k",        // q266's passes + the in-plan K
                               // derivation broadcast into the seed
    "q343_opq_permutation"     // q331's training passes over the
                               // permuted subspaces (same two-pass
                               // codebook build, same lineage
                               // repetition of the corpus scan)
  )

  /** Loose global ceiling on SHUFFLE Exchange nodes in one final
    * plan. */
  val exchangeCeiling = 8

  /** Ceiling on EXECUTING scans of one parquet path inside a single
    * final plan (VERDICT r11 #7: a stage recomputed across a deep
    * lineage shows up as the same scan subtree repeated). Counted on
    * the physical tree, NOT the plan string: scans under an
    * InMemoryRelation are the cache's one-time build plan and scans
    * behind a ReusedExchange are already paid for — the string shows
    * both, the tree walk charges neither. Multi-leg verification
    * lanes legitimately re-scan a table once per independent leg, so
    * the ceiling is loose; a lane above it is recomputing a STAGE,
    * not adding a leg. */
  val scanCeiling = 4

  /** Lanes where > scanCeiling scans of one path are the audited,
    * deliberate shape (every leg is an independent verification pass
    * over the raw table, not a recomputed stage). */
  val scanAllowed: Set[String] = Set.empty

  /** Executing FileSourceScan paths in a physical tree (see
    * [[scanCeiling]] for what is deliberately NOT counted). */
  def scanPaths(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = p match {
    case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
    case _: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => Nil
    case _: org.apache.spark.sql.execution.exchange
        .ReusedExchangeExec => Nil
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      // full path, not basename (ADVICE r12): two distinct dirs
      // sharing a last segment must not be conflated into one count
      Seq(f.relation.location.rootPaths.map(_.toString).mkString(","))
    case other => other.children.flatMap(scanPaths)
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Graft.session("planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val violations = scala.collection.mutable.Buffer[String]()
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // a lane that collects inside itself hands back a local relation;
        // audit the plan that computed it, in the form every other lane is
        // audited in (the collect ran it: read its initial adaptive plan).
        // A frame the lane cached prints inside it as its cache was built:
        // an adaptive plan that ran lists its final and initial plans, so
        // the PQ lanes (Pq.answer) and q338, which collect before the audit
        // reads them, count each cache's operators twice
        val executed = Graft.collectedPlan(df).map {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }.getOrElse(df.queryExecution.executedPlan)
        val plan = executed.toString()
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val cart = "CartesianProduct".r.findAllIn(plan).size
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        // SHUFFLE exchanges only: BroadcastExchange is the good kind,
        // ReusedExchange re-reads one already paid for
        val ex = "(?<!Broadcast)(?<!Reused)Exchange".r
          .findAllIn(plan).size
        val flags = scala.collection.mutable.Buffer[String]()
        if (cart > 0) flags += s"CARTESIAN x$cart"
        if (smj > 0 && !smjAllowed(n)) flags += s"SMJ x$smj"
        // a broadcast nested loop over a model-sized panel is cheaper
        // than any shuffle; a PILE of them deserves a real audit
        if (bnlj > 2 && !bnljAllowed(n)) flags += s"BNLJ x$bnlj"
        // r18 (VERDICT r17 #3): the row-local PQ lanes' allowlisting is
        // additionally PINNED structurally — every BNLJ build side in
        // those plans must be a GLOBAL (no-grouping-key) aggregate,
        // i.e. the one-row collect_list codebook / 1-row scalar model.
        // A future corpus-sized BNLJ sneaking into these lanes now
        // flags instead of riding the lane waiver.
        if (bnljGlobalBuildPinned(n)) {
          val bad = bnljNodes(executed)
            .filterNot(b => isModelBuild(b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
                b.left
              case _ => b.right
            }))
          if (bad.nonEmpty)
            flags += s"BNLJ_BUILD not a global agg x${bad.size}"
        }
        if (ex > exchangeCeiling && !iterativeLanes(n) &&
          !multiBranchAllowed(n))
          flags += s"EXCHANGES $ex"
        val scanMax = scanPaths(executed)
          .groupBy(identity).view.mapValues(_.size)
          .maxByOption(_._2).getOrElse(("", 0))
        if (scanMax._2 > scanCeiling && !scanAllowed(n) &&
          !iterativeLanes(n))
          flags += s"REPEATED_SCAN ${scanMax._1} x${scanMax._2}"
        // Bucketed-read invariant (VERDICT r13 #4): the at-rest bucket
        // layout must actually be READ bucket-aware — the scans report
        // SelectedBucketsCount and the merge join runs without a
        // shuffle (only the final aggregation exchanges). A regression
        // here (a lost bucket spec, an added repartition) silently
        // re-shuffles the whole archive at 100 TB.
        if (n == "q236_bucket_join" ||
          n == "q239_bucket_stream_compact") {
          if (!plan.contains("SelectedBucketsCount"))
            flags += "BUCKET_READ not bucket-aware"
          if (ex > 1)
            flags += s"BUCKET_READ shuffles (ex=$ex)"
        }
        println(f"$n%-34s smj=$smj cart=$cart bnlj=$bnlj ex=$ex " +
          f"scans=${scanMax._2}" +
          (if (flags.nonEmpty) "  <<< " + flags.mkString(", ") else ""))
        flags.foreach(f => violations += s"$n: $f")
      } catch {
        case e: Throwable =>
          println(f"$n%-34s BUILD FAILED: ${e.getMessage}")
          violations += s"$n: build failed (${e.getClass.getSimpleName})"
      }
    }
    // Partition-pruning invariant (VERDICT r12 #7): the prescribed
    // (time-bin, exporter-hash) at-rest layout must actually prune —
    // a time-bounded read scans ONLY the matching partition files.
    // Uses the q329 evidence path (executed-scan metrics vs the files
    // on disk), so a planner regression fails the audit even if the
    // lane's aggregate values still come out right.
    if (args.isEmpty) try {
      val (_, ev) = graft.operators.ScaleQueries.pruningEvidence(
        spark, sfDir)
      val ok = ev.pfPresent && ev.filesScanned < ev.filesTotal &&
        ev.filesScanned == ev.filesMatching
      println(f"${"partition-pruning"}%-24s scanned=${ev.filesScanned} " +
        s"matching=${ev.filesMatching} total=${ev.filesTotal} " +
        s"pf=${ev.pfPresent}" + (if (ok) "" else "  <<< NOT PRUNED"))
      if (!ok) violations += s"partition-pruning: scanned=" +
        s"${ev.filesScanned}/${ev.filesTotal} pf=${ev.pfPresent}"
    } catch {
      case e: Throwable =>
        violations += s"partition-pruning: check failed (${e.getMessage})"
    }
    // Dynamic-partition-pruning invariant (VERDICT r13 #4): the same
    // evidence when the time bound arrives via a joined dim — the fact
    // scan must carry a DynamicPruningExpression and read only the
    // matching tbin= files.
    if (args.isEmpty) try {
      val (_, ev) = graft.operators.ScaleQueries.dppEvidence(
        spark, sfDir)
      val ok = ev.dynPruned && ev.filesScanned < ev.filesTotal &&
        ev.filesScanned == ev.filesMatching
      println(f"${"dynamic-pruning"}%-24s scanned=${ev.filesScanned} " +
        s"matching=${ev.filesMatching} total=${ev.filesTotal} " +
        s"dyn=${ev.dynPruned}" + (if (ok) "" else "  <<< NOT PRUNED"))
      if (!ok) violations += s"dynamic-pruning: scanned=" +
        s"${ev.filesScanned}/${ev.filesTotal} dyn=${ev.dynPruned}"
    } catch {
      case e: Throwable =>
        violations += s"dynamic-pruning: check failed (${e.getMessage})"
    }
    println(s"\n== ${names.size} plans audited, " +
      s"${violations.size} violations ==")
    violations.foreach(v => println(s"VIOLATION $v"))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
