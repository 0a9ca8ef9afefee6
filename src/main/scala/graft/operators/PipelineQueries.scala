package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger
import graft.core.{Graft, Q, Tables}

/** The composed flagship lane: every stage of a production training-data
  * pipeline chained END TO END over one corpus, with the stage-boundary
  * policies a 100 TB run needs made explicit — where to fuse (the whole
  * ingest leg is ONE mapPartitions pass, zero shuffles), where to
  * materialize (two parquet stage boundaries truncate the lineage so no
  * downstream consumer ever recomputes a codec or a join tier), and
  * where to persist (the small drop-id sets, never corpus-scale text).
  *
  * The individual stages are each proven by their own gates (q288 WARC,
  * q274 HTML, q291 robots, q34 lang-ID, q36 quality, q319 cascade, q104
  * decontamination, q127 rebalance, q103 packing, q182 curriculum); this
  * lane proves the COMPOSITION: 319 isolated lanes never exercise cache
  * policy and lineage truncation across a 10-stage chain, which is what
  * an actual pipeline run does.
  */
object PipelineQueries {
  import graft.text.TextOps._

  /** All parquet files under a state root (shared by the bucketed
    * ingest-state lanes q327/q332/q342). */
  private def stateFiles(root: String): Vector[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Vector.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toVector
    }
  }

  /** Every FileSourceScan in an executed plan, through AQE wrappers
    * and cached-plan boundaries — the executed-scan pruning-evidence
    * reader shared by the bucketed ingest-state lanes. A
    * persisted DataFrame's first action executes the shared
    * InMemoryRelation.cachedPlan instance, so the scan metrics of a
    * probe that ran INSIDE a cache materialization are harvested from
    * the cached physical plan — evidence without a dedicated job
    * (VERDICT r16 #1: the probe must not spend a second scan on its
    * own instrumentation). */
  private def scansDeep(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scansDeep(a.executedPlan)
      case qse: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scansDeep(qse.plan)
      case im: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => scansDeep(im.relation.cachedPlan)
      case f: org.apache.spark.sql.execution
          .FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansDeep)
    }

  /** Smallest power of two >= n, floored at 128 and capped at 4096 —
    * the in-lane bucket-count sizing idiom (production derives B from
    * cluster size; past the cap the cadence bound is the binding
    * invariant, documented in the q327 lane). */
  private def pow2Cap(n: Long): Int = {
    var b = 128L
    while (b < n && b < 4096L) b <<= 1
    b.toInt
  }

  private def emptyOf(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** One tier's LSM-shaped state/claims store, shared by the streaming
    * cascade lanes (q327's three tier states, q330's three claim
    * tables): a pb-bucketed base generation plus single-file L0
    * appends, folded every C micro-batches. Folds are LSM-honest —
    * only buckets the L0s actually touch are re-merged (executed-scan
    * evidence optionally recorded per fold), untouched bucket runs
    * carry over to the new generation by a filesystem move, and the
    * superseded generation (consumed L0s included) is deleted once the
    * new base commits (ADVICE r16). All write widths derive from the
    * session's parallelism, never a box literal (VERDICT r16 #3). */
  private final class TierStore(s: SparkSession, tmp: String,
      tname: String, ddl: String, foldFn: DataFrame => DataFrame,
      maxFpb: java.util.concurrent.atomic.AtomicLong,
      foldEvidence: Boolean = false) {
    var B = 128
    var folds = 0
    private var gen = 0
    private var nl0 = 0
    // (scanned, matching, total, pf) per probe / per evidenced fold
    val ev = scala.collection.mutable
      .ArrayBuffer[(Long, Long, Long, Boolean)]()
    val fev = scala.collection.mutable
      .ArrayBuffer[(Long, Long, Long, Boolean)]()
    private var pending: Option[(String, Long, Long)] = None
    private def root = s"$tmp/st_${tname}_g$gen"
    private def baseDir = s"$root/base"
    def baseExists: Boolean = new java.io.File(baseDir).exists()
    /** Write width: every core, capped by the bucket count — derived
      * from the session, so a cluster deployment inherits its
      * parallelism instead of a single-box literal. */
    private def writeW: Int =
      math.max(1, math.min(B, s.sparkContext.defaultParallelism))
    private def l0Dirs: Seq[String] =
      Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("l0"))
        .map(_.getPath).sorted.toSeq
    private def l0Files: Seq[String] = l0Dirs.flatMap(stateFiles)
    private def l0Read: DataFrame = {
      val dirs = l0Dirs
      if (dirs.isEmpty) emptyOf(s, ddl)
      // one multi-dir read of the <= C-1 single-file L0 generations
      // (pb is a DATA column in L0s, so sibling dirs read together)
      else s.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .parquet(dirs: _*)
    }
    /** Pruned read of the base buckets the batch's keys hash into,
      * plus the <= C-1 single-file L0 appends since the last fold.
      * Records the probe-cost observable (files per probed bucket)
      * and stages the pruning-evidence bookkeeping; the SCAN metrics
      * are harvested later from the consuming job's own executed plan
      * (harvestFrom) — the probe itself runs no job. */
    def probe(pbs: Seq[Int]): DataFrame =
      if (!baseExists || pbs.isEmpty) emptyOf(s, ddl)
      else {
        val all = stateFiles(baseDir)
        val l0n = l0Dirs.size.toLong
        // probe-cost observable: files a single-bucket probe may
        // touch — base files in that bucket + every L0 (an L0 is one
        // increment-sized file; reading <= C-1 of them per probe is
        // increment-proportional work, which is why the cadence
        // bound, not the L0 layout, is the binding invariant)
        val basePer = pbs.map(v =>
          all.count(_.contains(s"/pb=$v/"))).filter(_ > 0)
        val fpb = (if (basePer.isEmpty) 0L else basePer.max.toLong) +
          l0n
        if (fpb > 0L)
          maxFpb.getAndUpdate(m => math.max(m, fpb))
        val matching = all.count(pth =>
          pbs.exists(v => pth.contains(s"/pb=$v/")))
        pending = Some((baseDir, matching.toLong, all.size.toLong))
        s.read.parquet(baseDir).where(col("pb").isin(pbs: _*))
          .unionByName(l0Read.where(col("pb").isin(pbs: _*)))
      }
    /** Executed-scan pruning evidence for the last probe, read off
      * the CONSUMING DataFrame's plan after its action ran (the probe
      * lives inside `df`'s lineage — persisted, so the first action
      * executed the shared cached-plan instance and populated the
      * scan's metrics). Zero additional jobs. */
    def harvestFrom(df: DataFrame): Unit = pending.foreach {
      case (dir, matching, total) =>
        val sc = scansDeep(df.queryExecution.executedPlan).filter(
          _.relation.location.rootPaths
            .exists(_.toString.contains(dir)))
        val scanned = sc.map(_.metrics("numFiles").value).sum
        val pf = sc.nonEmpty &&
          sc.forall(_.partitionFilters.nonEmpty)
        ev += ((scanned, matching, total, pf))
        pending = None
    }
    /** Bulk lands as the partitioned base; increments append as ONE
      * single-file L0 generation each. Measured (r17): a
      * pb-partitioned L0 write costs one parquet file per touched
      * bucket per batch (~460 files/batch on the class tier at
      * sf0.1, 2.5x the whole lane); a single-file L0 is one
      * increment-sized file, the fold re-buckets it on the cadence,
      * and a probe reads <= C-1 of them — increment-proportional
      * work either way, without the per-file floor. On a cluster the
      * same knob can flip to partitionBy("pb") where file creates
      * are spread across executors. */
    def append(df: DataFrame): Unit =
      if (!baseExists)
        df.repartition(writeW, col("pb")).write.partitionBy("pb")
          .parquet(baseDir)
      else {
        nl0 += 1
        df.coalesce(1).write.parquet(f"$root/l0_$nl0%03d")
      }
    /** The CADENCE: merge the L0 appends into a fresh generation —
      * probe cost resets to one file per bucket. LSM-honest: only
      * buckets the L0s actually TOUCH are re-merged; untouched bucket
      * runs carry over by a filesystem move, never a rewrite; the
      * superseded generation is deleted once the new base commits.
      * With foldEvidence the fold's own pruned base read is
      * evidence-harvested (from the fold job's executed plan — no
      * dedicated scan). */
    def foldNow(): Unit = if (l0Files.nonEmpty) {
      // job label (guide §1.5) — thread-local, so set on the fold's
      // own (possibly Future) thread
      s.sparkContext.setJobDescription(s"fold:$tname")
      val oldRoot = root
      val l0 = l0Read
      val touched: Seq[Int] =
        l0.agg(collect_set("pb")).head().getSeq[Int](0)
      val nxtBase = s"$tmp/st_${tname}_g${gen + 1}/base"
      val all = if (baseExists) stateFiles(baseDir) else Vector.empty
      val matching = all.count(pth =>
        touched.exists(v => pth.contains(s"/pb=$v/")))
      val overlap =
        if (baseExists) s.read.parquet(baseDir)
          .where(col("pb").isin(touched: _*))
        else emptyOf(s, ddl)
      val merged0 = foldFn(overlap.unionByName(l0))
      val merged = if (foldEvidence) merged0.persist() else merged0
      merged.repartition(writeW, col("pb")).write.partitionBy("pb")
        .parquet(nxtBase)
      if (foldEvidence) {
        if (all.nonEmpty) {
          val sc = scansDeep(merged.queryExecution.executedPlan)
            .filter(_.relation.location.rootPaths
              .exists(_.toString.contains(baseDir)))
          fev += ((sc.map(_.metrics("numFiles").value).sum,
            matching.toLong, all.size.toLong,
            sc.nonEmpty && sc.forall(_.partitionFilters.nonEmpty)))
        }
        merged.unpersist(); ()
      }
      val touchedDirs = touched.map(v => s"pb=$v").toSet
      Option(new java.io.File(baseDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory &&
          f.getName.startsWith("pb=") &&
          !touchedDirs.contains(f.getName))
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(nxtBase, f.getName))
        }
      gen += 1; nl0 = 0; folds += 1
      Graft.deleteTree(oldRoot)
    }  }

  /** Robots ruleset per host (q291's page of decision cases) and the
    * deterministic per-doc path cycling through them. */
  private def robotsAdmit(id: Long): Boolean = {
    import graft.text.Robots
    val h = id % 7
    val robots =
      s"""# host $h
         |User-agent: graftbot
         |Disallow: /private$h/
         |Allow: /private$h/ok/
         |Disallow: /*.json$$
         |Crawl-delay: 3
         |
         |User-agent: *
         |Disallow: /
         |Allow: /pub/
         |""".stripMargin
    val path = (id % 6) match {
      case 0 => s"/private$h/data$id"
      case 1 => s"/private$h/ok/p$id"
      case 2 => s"/tmp/f$id"
      case 3 => s"/files/r$id.json"
      case 4 => s"/files/r$id.jsonx"
      case _ => s"/pub/a$id"
    }
    Robots.allowed(Robots.parse(robots), "graftbot/1.0", path)
  }

  /** The fused per-document ingest stages (row-local, shared by the
    * batch pipeline q320 and its streaming twin q325): WARC container
    * round-trip (q288) → HTML wrap + tag-walk extraction (q274) →
    * robots admission (q291). Returns (doc_id, source, extracted
    * body, admitted). */
  def ingestDoc(id: Long, source: String, text: String)
      : (Long, String, String, Boolean) = {
    import graft.text.{HtmlExtract, Warc}
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: " +
      "text/html; charset=utf-8\r\n\r\n").getBytes("ISO-8859-1")
    val rec = Warc.record(Seq(
      ("WARC-Type", "response"),
      ("WARC-Target-URI", s"https://corpus.example/$id"),
      ("WARC-Record-ID", s"<urn:uuid:resp-$id>"),
      ("Content-Type", "application/http; msgtype=response")),
      http ++ text.getBytes("UTF-8"))
    val back = Warc.readAuto(Warc.gzip(rec))
      .find(_.warcType == "response").get
    val (status, body) = Warc.httpSplit(back.payload).get
    require(status.startsWith("HTTP/1.1 200"), status)
    val rid = back.targetUri
      .substring(back.targetUri.lastIndexOf('/') + 1).toLong
    val raw = new String(body, "UTF-8")
    def esc(t: String): String = t.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    val html =
      s"""<html><head><title>Doc $rid</title>""" +
        """<script>var x = "<p>&amp; trap</p>";</script>""" +
        """<style>p { color: red; }</style></head>""" +
        """<body><div id="nav">home &amp; about&#33;</div>""" +
        raw.split("\n", -1).map(l => s"<p>${esc(l)}</p>").mkString +
        """<div class="foot">(c) footer</div></body></html>"""
    // lines = title, nav, body…, footer — keep only the body
    val lines = HtmlExtract.lines(html)
    val extracted = lines.drop(2).dropRight(1).mkString("\n")
    (rid, source, extracted, robotsAdmit(rid))
  }

  /** DuckDB CTE chain for the batch pipeline through the dedup
    * cascade's substring tier — shared VERBATIM by q320's funnel
    * oracle and q327's streaming-equality oracle so the two gates can
    * never drift. Yields CTEs: ext (HTML-extracted text), feat
    * (per-doc features), s0 (admitted + quality), de/dn/ds (the three
    * tiers' drop sets), thv, and s3 (the cascade's survivors). */
  private def duckCascadePrefix: String = {
    val toksOf = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    val hsOf = s"list_distinct(list_transform(" +
      s"${duckShingles(toksOf)}, g -> ${duckTokHash("g")} % $P))"
    s"""ext AS MATERIALIZED (SELECT doc_id, source,
              coalesce(list_aggr(list_filter(list_transform(
                string_split(text, chr(10)),
                l -> regexp_replace(regexp_replace(l, '\\s+', ' ', 'g'),
                  '^ +| +$$', '', 'g')), x -> len(x) > 0),
                'string_agg', chr(10)), '') AS text
              FROM documents),
            feat AS MATERIALIZED (SELECT doc_id, source,
              (doc_id % 6 NOT IN (0, 3)) AS admit,
              ${duckLangPredict(duckHps)} AS pred,
              $duckQuality AS score,
              md5(text) AS ek,
              ${duckTokHash("text")} % $P AS ck,
              list_transform($duckToks, tk -> ${duckTokHash("tk")})
                AS th,
              $hsOf AS hs,
              list_distinct(list_transform(range(1,
                greatest(len($duckToks) - 12, 0) + 1),
                i -> list_reduce([0::BIGINT] ||
                  list_transform($duckToks,
                    tk -> ${duckTokHash("tk")})[i:i+12],
                  (a, x) -> (a * 31 + x) % ${1L << 50}))) AS dg,
              len($duckToks) AS ntok
              FROM ext),
            s0 AS MATERIALIZED (SELECT * FROM feat
              WHERE admit AND score >= 0.6),
            de AS MATERIALIZED (SELECT e.doc_id FROM s0 e
              JOIN (SELECT ek, min(doc_id) AS m FROM s0 GROUP BY 1) g
                ON e.ek = g.ek AND e.doc_id > g.m),
            sigs AS (SELECT doc_id, hs,
              ${(0 until 8).map(k => s"${duckMinhash("hs", k)} AS s$k")
                .mkString(", ")} FROM s0
              WHERE doc_id NOT IN (SELECT doc_id FROM de)),
            bands AS MATERIALIZED (${(0 until 4).map(b =>
                s"""SELECT doc_id, hs, concat_ws('_', '$b', s${2 * b},
                    s${2 * b + 1}) AS bk FROM sigs""")
              .mkString(" UNION ALL ")}),
            dn AS MATERIALIZED (SELECT DISTINCT y.doc_id
              FROM bands x JOIN bands y
                ON x.bk = y.bk AND x.doc_id < y.doc_id
              WHERE 10 * len(list_intersect(x.hs, y.hs))
                >= 9 * len(list_distinct(x.hs || y.hs))),
            thv AS (SELECT doc_id, th, ntok FROM s0
              WHERE doc_id NOT IN (SELECT doc_id FROM de)
                AND doc_id NOT IN (SELECT doc_id FROM dn)),
            wins AS MATERIALIZED (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, greatest(len(th) - 30, 1)),
                i -> list_aggr(list_transform(list_slice(th, i, i + 31),
                  x -> CAST(x AS VARCHAR)), 'string_agg', ','))) AS win
              FROM thv),
            ds AS MATERIALIZED (SELECT DISTINCT w.doc_id
              FROM wins w JOIN (SELECT win, min(doc_id) AS m FROM wins
                GROUP BY 1) o ON w.win = o.win AND w.doc_id > o.m),
            s3 AS MATERIALIZED (SELECT * FROM s0
              WHERE doc_id NOT IN (SELECT doc_id FROM de)
                AND doc_id NOT IN (SELECT doc_id FROM dn)
                AND doc_id NOT IN (SELECT doc_id FROM ds))"""
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q320: WARC ingest → HTML extract → robots admission → lang-ID →
    // quality filter → exact dedup → LSH near-dup → exact substring →
    // decontamination → temperature rebalance → sequence packing →
    // curriculum shards. Output: the per-stage funnel (docs + surviving
    // tokens per tier), an extracted-text corpus checksum, the final
    // language mix, the packing summary and the 16 curriculum shards —
    // every number reproduced by the DuckDB oracle from raw text alone.
    //
    // Scale shape, stage by stage:
    //  - ingest+extract+admission FUSE into one mapPartitions pass over
    //    the scan (codecs are row-local; no shuffle until the first
    //    aggregation), then ONE projection computes every per-doc
    //    feature (tokens bound once via let1 — pred, score, md5, token
    //    hashes, shingle set, band keys) and lands in the M1 parquet:
    //    the first stage boundary. Every downstream leg re-reads M1
    //    column-pruned; nothing ever re-runs a codec.
    //  - the dedup tiers follow q319 (each tier pays only the previous
    //    tier's survivors; drop sets are doc-id-sized and persisted);
    //    the near tier's signatures come from M1, NOT recomputed —
    //    extraction only collapses whitespace and the tokenizer is
    //    whitespace-insensitive, so signatures computed once at ingest
    //    are valid for every later tier (commented here because it is
    //    a real 100 TB design decision: sigs ride the corpus parquet).
    //  - decontamination broadcasts the held-out shingle set (bench
    //    corpora are model-sized); rebalance broadcasts the per-lang
    //    count table (lang-cardinality-sized).
    //  - the post-dedup corpus lands in the M2 parquet: the second
    //    stage boundary. Packing and curriculum read M2 — their plans
    //    never see the cascade's join tiers, so the final fact table is
    //    scanned, not recomputed (the q319 47-SMJ lineage lesson).
    Q("q320_training_pipeline",
      (s, d) => Graft.scratchLane("q320_pipeline") { tmp =>
        val sp = s
        import sp.implicits._
        val qualityMin = 0.6
        val (m1, m2) = (s"$tmp/m1", s"$tmp/m2")
        // Per-stage soak instrumentation (VERDICT r12 #5): with
        // SPARK_GRAFT_STAGE_TIMES set, each stage is FORCED at its
        // boundary (an extra count() per persisted drop set) and the
        // split prints as one Q320_STAGES line, so a scale regression
        // localizes to a stage. Without the knob the lane is
        // unchanged — no extra actions, tiers materialize lazily
        // under the funnel aggregation as always.
        val stageTimes = scala.collection.mutable
          .ArrayBuffer[(String, Double)]()
        val timing = sys.env.contains("SPARK_GRAFT_STAGE_TIMES")
        def mark[T](name: String)(body: => T): T = {
          val tt0 = System.nanoTime(); val r = body
          stageTimes += ((name, (System.nanoTime() - tt0) / 1e9)); r
        }
        def force(name: String, df: DataFrame): Unit =
          if (timing) mark(name)(df.count())

        // ---- stages 1-3 (fused, shuffle-free): WARC container
        // round-trip (q288), HTML wrap + tag-walk extraction (q274),
        // robots admission (q291). The extracted body is the title-,
        // nav- and footer-stripped line set — whitespace-collapsed
        // nonblank lines, which the oracle reproduces from raw text.
        val ingest = Tables.documents(s, d)
          .select("doc_id", "source", "text")
          .repartition(s.sparkContext.defaultParallelism)
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, source, text) =>
            ingestDoc(id, source, text)
          })
          .toDF("doc_id", "source", "text", "admit")

        // ---- per-doc features in ONE projection (tokens bound once),
        // then the M1 stage boundary
        val hpsOfToks = s"transform(toks, t -> ${sparkTokHash("t")} % $P)"
        mark("m1_ingest")(ingest
          .withColumn("toks", expr(sparkToks))
          .selectExpr("doc_id", "source", "admit",
            s"${sparkLangPredict(hpsOfToks)} as pred",
            s"${sparkQualityOf("toks")} as score",
            "md5(text) as ek",
            s"${sparkTokHash("text")} % $P as ck",
            s"transform(toks, t -> ${sparkTokHash("t")}) as th",
            s"array_distinct(transform(${sparkShingles("toks")}, " +
              s"g -> ${sparkTokHash("g")} % $P)) as hs",
            // decontamination unit: 13-token n-grams (the GPT-3-style
            // width — 3-token shingles over this small a vocabulary
            // mark ~98% of the corpus contaminated, which is exactly
            // why production decon uses long n-grams), rolled up with
            // the bounded Horner hash both engines stay in BIGINT for
            // (the filter guard: Spark's sequence(1, n) DESCENDS for
            // n < 1 instead of yielding empty — a <13-token doc must
            // produce NO n-grams, same as the oracle's range())
            "array_distinct(transform(filter(sequence(1, " +
              "greatest(size(toks) - 12, 1)), " +
              "i -> i <= size(toks) - 12), i -> " +
              "aggregate(slice(transform(toks, t -> " +
              s"${sparkTokHash("t")}), i, 13), 0L, " +
              s"(a, x) -> (a * 31 + x) % ${1L << 50}))) as dg",
            "size(toks) as ntok")
          .withColumn("bks", expr(SigTable.bandExpr))
          .write.parquet(m1))
        val feat = s.read.parquet(m1)

        // ---- stages 6-8: the dedup cascade over admitted + quality
        // survivors (q319 tiers; drop sets persist, they are id-sized)
        val s0 = feat.filter(col("admit") && col("score") >= qualityMin)
        val minEk = s0.groupBy("ek").agg(min("doc_id").as("k0"))
        val dropE = s0.join(minEk, Seq("ek"))
          .filter(col("doc_id") =!= col("k0"))
          .select("doc_id").persist()
        force("t_exact", dropE)
        val s1 = s0.join(dropE.withColumnRenamed("doc_id", "de"),
          col("doc_id") === col("de"), "left_anti")
        val b1 = s1.select(col("doc_id"), col("hs"),
          explode(col("bks")).as("bk"))
        val dropN = b1.alias("x").join(b1.alias("y"),
            col("x.bk") === col("y.bk") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(expr("10 * size(array_intersect(x.hs, y.hs)) >= " +
            "9 * size(array_union(x.hs, y.hs))"))
          .select(col("y.doc_id").as("doc_id")).distinct().persist()
        force("t_near", dropN)
        val s2 = s1.join(dropN.withColumnRenamed("doc_id", "dn"),
          col("doc_id") === col("dn"), "left_anti")
        val cls = s2.select("doc_id", "th").as[(Long, Seq[Long])]
          .flatMap { case (doc, th) =>
            graft.text.SuffixClasses.probeRanks(doc, th.toArray, Seq(5))
              .iterator.flatMap { case (_, ra, rb) =>
                val set = scala.collection.mutable
                  .LinkedHashSet[(Long, Long)]()
                var p = 0
                while (p < ra.length) { set += ((ra(p), rb(p))); p += 1 }
                set.iterator.map { case (ka, kb) => (doc, ka, kb) }
              }
          }.toDF("doc_id", "ka", "kb").persist()
        val owners = cls.groupBy("ka", "kb").agg(min("doc_id").as("own"))
        val dropS = cls.join(owners, Seq("ka", "kb"))
          .filter(col("doc_id") > col("own"))
          .select("doc_id").distinct().persist()
        force("t_substr", dropS)

        // ---- stage 9: decontamination — held-out 13-gram hashes
        // broadcast (bench corpora are model-sized)
        val bench = feat.filter(col("doc_id") % 10 === 0)
          .select(explode(col("dg")).as("h")).distinct()
        val s3ids = s2.join(dropS.withColumnRenamed("doc_id", "ds"),
          col("doc_id") === col("ds"), "left_anti")
        val cont = s3ids.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), explode(col("dg")).as("h"))
          .join(broadcast(bench), Seq("h"))
          .select("doc_id").distinct().persist()
        force("t_decontam", cont)

        // ---- one narrow per-doc status table carries every flag; the
        // funnel is then ONE aggregation pass, not a count per tier
        val status = feat
          .select("doc_id", "source", "pred", "score", "ntok", "ck",
            "admit")
          .join(dropE.withColumn("fe", lit(1)), Seq("doc_id"), "left")
          .join(dropN.withColumn("fn", lit(1)), Seq("doc_id"), "left")
          .join(dropS.withColumn("fs", lit(1)), Seq("doc_id"), "left")
          .join(cont.withColumn("fc", lit(1)), Seq("doc_id"), "left")
          .withColumn("c2", col("admit") && col("score") >= qualityMin)
          .withColumn("c3", col("c2") && col("fe").isNull)
          .withColumn("c4", col("c3") && col("fn").isNull)
          .withColumn("c5", col("c4") && col("fs").isNull)
          .withColumn("c6", col("c5") && col("doc_id") % 10 =!= 0 &&
            col("fc").isNull)
          .persist()

        // ---- stage 10: temperature rebalance over the decontaminated
        // survivors by PREDICTED language (count table is broadcast)
        val byPred = status.filter(col("c6")).groupBy("pred")
          .agg(count(lit(1)).as("n_l"))
        val statusF = status
          .join(broadcast(byPred), Seq("pred"), "left")
          .withColumn("c7", col("c6") &&
            expr(s"${sparkTokHash("cast(doc_id as string)")} % 1000000" +
              " < cast(floor(1000000.0 * least(1.0," +
              " 15.0 / sqrt(cast(n_l as double)))) as bigint)"))
        val f = mark("funnel_agg")(statusF.agg(
          count(lit(1)), sum("ntok"), sum("ck"),
          sum(when(col("admit"), 1L)),
          sum(when(col("admit"), col("ntok"))),
          sum(when(col("c2"), 1L)), sum(when(col("c2"), col("ntok"))),
          sum(when(col("c3"), 1L)), sum(when(col("c3"), col("ntok"))),
          sum(when(col("c4"), 1L)), sum(when(col("c4"), col("ntok"))),
          sum(when(col("c5"), 1L)), sum(when(col("c5"), col("ntok"))),
          sum(when(col("c6"), 1L)), sum(when(col("c6"), col("ntok"))),
          sum(when(col("c7"), 1L)), sum(when(col("c7"), col("ntok"))))
          .head())
        def fl(i: Int): Long = if (f.isNullAt(i)) 0L else f.getLong(i)
        val mix = mark("mix")(statusF.filter(col("c7")).groupBy("pred")
          .agg(count(lit(1)).as("n"), sum("ntok").as("v"))
          .as[(String, Long, Long)].collect().toSeq)

        // ---- the M2 stage boundary: the final training corpus
        mark("m2_write")(statusF.filter(col("c7"))
          .select("doc_id", "pred", "ntok")
          .write.parquet(m2))
        status.unpersist()
        dropE.unpersist(); dropN.unpersist(); dropS.unpersist()
        cls.unpersist(); cont.unpersist()
        val corpus = s.read.parquet(m2)

        // ---- stage 11: sequence packing (q103's distributed prefix
        // sums — per-bucket window cumsum + broadcast bucket offsets)
        val budget = 512L
        val docs = corpus.select(col("doc_id"), col("ntok"))
          .withColumn("bucket", expr("doc_id div 64"))
        val wIn = Window.partitionBy("bucket").orderBy("doc_id")
        val inBucket = docs.withColumn("cum_in",
          sum("ntok").over(wIn) - col("ntok"))
        val wOff = Window.orderBy("bucket")
        val offsets = docs.groupBy("bucket")
          .agg(sum("ntok").as("btok"))
          .withColumn("offset", coalesce(
            sum("btok").over(wOff) - col("btok"), lit(0L)))
          .select("bucket", "offset")
        val pack = mark("packing")(
          inBucket.join(broadcast(offsets), Seq("bucket"))
          .withColumn("seq_id", expr(s"(offset + cum_in) div $budget"))
          .agg(countDistinct("seq_id").as("n"), sum("ntok").as("v"))
          .head())
        def pl(i: Int): Long =
          if (pack.isNullAt(i)) 0L else pack.getLong(i)

        // ---- stage 12: curriculum shards (q182's range sort + ranks)
        val n7 = fl(15)
        val shards = mark("curriculum") {
          if (n7 == 0) Seq.empty[(String, Long, Long)]
          else corpus.select("doc_id", "ntok").as[(Long, Long)].rdd
            .map { case (id, nt) => ((nt, id), ()) }
            .sortByKey(ascending = true,
              numPartitions = s.sparkContext.defaultParallelism)
            .zipWithIndex()
            .map { case (((nt, _), _), idx) => (idx * 16L / n7, nt) }
            .toDF("shard", "ntok").groupBy("shard")
            .agg(count(lit(1)).as("n"), sum("ntok").as("v"))
            .as[(Long, Long, Long)].collect().toSeq
            .map { case (sh, n, v) => (f"$sh%02d", n, v) }
        }
        if (timing)
          println("Q320_STAGES " + stageTimes.map { case (k, t) =>
            f"$k=$t%.2f" }.mkString(" "))

        val funnel = Seq(
          ("funnel", "00_ingest", fl(0), fl(1)),
          ("funnel", "01_extract_ck", fl(0), fl(2)),
          ("funnel", "02_robots", fl(3), fl(4)),
          ("funnel", "03_quality", fl(5), fl(6)),
          ("funnel", "04_exact", fl(7), fl(8)),
          ("funnel", "05_near", fl(9), fl(10)),
          ("funnel", "06_substr", fl(11), fl(12)),
          ("funnel", "07_decontam", fl(13), fl(14)),
          ("funnel", "08_rebalance", fl(15), fl(16)),
          ("pack", "sequences", pl(0), pl(1))) ++
          mix.map { case (p, n, v) => ("mix", p, n, v) } ++
          shards.map { case (k, n, v) => ("shard", k, n, v) }
        funnel.toDF("kind", "key", "n", "v")
      },
      Some {
        s"""WITH $duckCascadePrefix,
            bench AS MATERIALIZED (SELECT DISTINCT unnest(dg) AS h
              FROM feat WHERE doc_id % 10 = 0),
            cont AS MATERIALIZED (SELECT DISTINCT doc_id
              FROM (SELECT doc_id, unnest(dg) AS h FROM s3
                WHERE doc_id % 10 != 0) z
              WHERE h IN (SELECT h FROM bench)),
            s6 AS MATERIALIZED (SELECT * FROM s3
              WHERE doc_id % 10 != 0
                AND doc_id NOT IN (SELECT doc_id FROM cont)),
            cl AS (SELECT pred, count(*) AS n_l FROM s6 GROUP BY 1),
            s7 AS MATERIALIZED (SELECT s6.* FROM s6 JOIN cl USING (pred)
              WHERE ${duckTokHash("doc_id::VARCHAR")} % 1000000 <
                CAST(floor(1000000.0 * least(1.0, 15.0 / sqrt(n_l)))
                  AS BIGINT)),
            pk AS (SELECT CAST((sum(ntok) OVER (ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - ntok) // 512 AS BIGINT)
                AS seq_id, ntok FROM s7),
            rk AS (SELECT ntok, row_number() OVER (ORDER BY ntok,
                doc_id) - 1 AS rk FROM s7),
            nn AS (SELECT count(*) AS n FROM s7)
            SELECT 'funnel' AS kind, '00_ingest' AS key,
              (SELECT count(*) FROM feat) AS n,
              (SELECT CAST(sum(ntok) AS BIGINT) FROM feat) AS v
            UNION ALL SELECT 'funnel', '01_extract_ck',
              (SELECT count(*) FROM feat),
              (SELECT CAST(sum(ck) AS BIGINT) FROM feat)
            UNION ALL SELECT 'funnel', '02_robots',
              (SELECT count(*) FROM feat WHERE admit),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM feat WHERE admit)
            UNION ALL SELECT 'funnel', '03_quality',
              (SELECT count(*) FROM s0),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM s0)
            UNION ALL SELECT 'funnel', '04_exact',
              (SELECT count(*) FROM s0
                WHERE doc_id NOT IN (SELECT doc_id FROM de)),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM s0
                WHERE doc_id NOT IN (SELECT doc_id FROM de))
            UNION ALL SELECT 'funnel', '05_near',
              (SELECT count(*) FROM thv),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM thv)
            UNION ALL SELECT 'funnel', '06_substr',
              (SELECT count(*) FROM s3),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM s3)
            UNION ALL SELECT 'funnel', '07_decontam',
              (SELECT count(*) FROM s6),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM s6)
            UNION ALL SELECT 'funnel', '08_rebalance',
              (SELECT count(*) FROM s7),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM s7)
            UNION ALL SELECT 'pack', 'sequences',
              (SELECT count(DISTINCT seq_id) FROM pk),
              (SELECT CAST(sum(ntok) AS BIGINT) FROM pk)
            UNION ALL SELECT 'mix', pred, count(*),
              CAST(sum(ntok) AS BIGINT) FROM s7 GROUP BY 2
            UNION ALL SELECT 'shard',
              lpad(CAST((rk * 16) // n AS VARCHAR), 2, '0'),
              count(*), CAST(sum(ntok) AS BIGINT)
            FROM rk, nn GROUP BY 2"""
      },
      doc = "composed training pipeline: WARC → HTML extract → robots " +
        "→ lang-ID → quality → 3-tier dedup cascade → decontamination " +
        "→ temperature rebalance → packing → curriculum, with two " +
        "parquet stage boundaries and a per-stage funnel oracle"),

    // Streaming twin of q320's ingest leg (ROADMAP r13 #2): the fused
    // WARC → HTML-extract → robots pass plus the one-projection
    // feature computation running as a MULTI-BATCH stream into the M1
    // boundary — dedup-on-ingest's upstream sibling (q318's
    // relationship to q315). The ingest stages are deliberately
    // STATELESS per document, which is precisely what makes them
    // batch-split-invariant: the gate stages the corpus as 8 files,
    // forces ≥4 micro-batches with maxFilesPerTrigger, and the landed
    // M1 corpus must equal the batch oracle doc-for-doc (the
    // admitted-checksum row pins every extracted body byte-exactly) —
    // no ordering assumption, no cross-batch state, the shape that
    // ingests a 100 TB crawl as it arrives.
    Q("q325_stream_ingest",
      (s, d) => Graft.scratchLane("q325_ingest") { tmp =>
        val sp = s
        import sp.implicits._
        val qualityMin = 0.6
        val (staged, m1) = (s"$tmp/staged", s"$tmp/m1")
        Tables.documents(s, d).select("doc_id", "source", "text")
          .repartition(8).write.parquet(staged)
        val schema = s.read.parquet(staged).schema
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val hpsOfToks = s"transform(toks, t -> ${sparkTokHash("t")} % $P)"
        // NOTE (r17): repartitioning this STREAMING chain for
        // parallelism was tried and reverted — on the incremental
        // plan AQE is disabled, so the shuffle ran at the session's
        // fixed width every batch and cost more than the 2-task codec
        // chain it parallelized (6.2 s vs 5.0 s A/B). The
        // foreachBatch-side repartitions (q327/q330) keep AQE.
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(staged)
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, src, text) =>
            ingestDoc(id, src, text)
          })
          .toDF("doc_id", "source", "text", "admit")
          .withColumn("toks", expr(sparkToks))
          .selectExpr("doc_id", "admit",
            s"${sparkLangPredict(hpsOfToks)} as pred",
            s"${sparkQualityOf("toks")} as score",
            s"${sparkTokHash("text")} % $P as ck",
            "size(toks) as ntok")
          .where(s"admit AND score >= $qualityMin")
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            nBatches.incrementAndGet()
            b.write.mode("append").parquet(m1)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val m1df = s.read.parquet(m1)
        val mix = m1df.groupBy("pred")
          .agg(count(lit(1)).as("n"), sum("ntok").as("v"))
          .selectExpr("'mix' AS kind", "pred AS key", "n", "v")
        val agg = m1df.agg(count(lit(1)), sum("ck")).head()
        def al(i: Int): Long = if (agg.isNullAt(i)) 0L else agg.getLong(i)
        val meta = Seq(
          ("ingest", "multi_batch", 1L,
            if (nBatches.get() >= 4) 1L else 0L),
          ("ingest", "admitted_ck", al(0), al(1)))
          .toDF("kind", "key", "n", "v")
        mix.unionByName(meta)
      },
      Some {
        s"""WITH ext AS MATERIALIZED (SELECT doc_id, source,
              coalesce(list_aggr(list_filter(list_transform(
                string_split(text, chr(10)),
                l -> regexp_replace(regexp_replace(l, '\\s+', ' ', 'g'),
                  '^ +| +$$', '', 'g')), x -> len(x) > 0),
                'string_agg', chr(10)), '') AS text
              FROM documents),
            feat AS (SELECT doc_id,
              (doc_id % 6 NOT IN (0, 3)) AS admit,
              ${duckLangPredict(duckHps)} AS pred,
              $duckQuality AS score,
              ${duckTokHash("text")} % $P AS ck,
              len($duckToks) AS ntok
              FROM ext),
            adm AS (SELECT * FROM feat WHERE admit AND score >= 0.6)
            SELECT 'mix' AS kind, pred AS key, count(*) AS n,
              CAST(sum(ntok) AS BIGINT) AS v FROM adm GROUP BY 2
            UNION ALL SELECT 'ingest', 'multi_batch', 1, 1
            UNION ALL SELECT 'ingest', 'admitted_ck',
              (SELECT count(*) FROM adm),
              (SELECT CAST(sum(ck) AS BIGINT) FROM adm)"""
      },
      doc = "streaming ingest: the fused WARC/HTML/robots pass + " +
        "feature projection as a >= 4-micro-batch stream into the M1 " +
        "boundary, batch-split-invariant by statelessness"),

    // Dedup-on-ingest for the composed pipeline (VERDICT r12 #3;
    // tier stores re-pointed at the bucketed cadence shape in r16 per
    // VERDICT r15 #2): q320's THREE dedup tiers run INCREMENTALLY as
    // arrival batches land, and EVERY tier's accumulated state lives
    // in the q342 store shape — a pb-bucketed base generation plus
    // cadence-bounded L0 appends, folded every C=2 micro-batches
    // BETWEEN batches (min-merge for the keyed tiers, rewrite for the
    // band tier; all three merges are associative so a fold is safe
    // at any time):
    //   exact:     base = min owner per md5 key, pb = hash(ek);
    //   LSH near:  base = every prior exact-survivor's (band key,
    //              signature) row, pb = hash(bk) — dropped docs stay
    //              DROPPERS, the batch lane's exact semantics;
    //   substring: base = min owner per 32-token window class,
    //              pb = hash(ka, kb).
    // A batch probes each tier reading ONLY the base buckets its own
    // keys hash into — executed-scan evidence per tier per probe
    // (partition filters present, scanned == files under matching
    // pb= dirs, strictly < the base total) — plus the <= C-1 L0
    // appends since the last fold, so per-batch probe cost is
    // bounded by the batch's bucket coverage and the cadence, never
    // by stream lifetime (the r15 lane re-read the band and class
    // tiers' FULL accumulated state per batch). Bucket counts are
    // sized per tier from the bulk batch's own observed volume (row
    // count for the doc-keyed tiers, token count for the class tier
    // whose key universe is ~tokens, not docs), floor 128, cap 4096;
    // past the cap an increment's key count exceeds any
    // single-box-feasible bucket count and the binding invariant is
    // the cadence bound alone (production re-checks subset pruning
    // with cluster-sized B). Arrival models the production steady
    // state: one bulk-history batch (96%) then four 1% increments —
    // the regime where bucket pruning pays, because an increment's
    // keys cover a strict subset of the store's buckets.
    //
    // Equality contract unchanged: min-owner dedup is
    // retroactive-free only under monotone doc_id arrival (a runtime
    // require per batch, and the gate row is computed from the
    // observation, not hardcoded); the surviving corpus must equal
    // q320's batch cascade DOC-FOR-DOC (the oracle replays the batch
    // tiers over the same corpus).
    Q("q327_stream_dedup_cascade",
      (s, d) => Graft.scratchLane("q327_cascade") { tmp =>
        val sp = s
        import sp.implicits._
        import org.apache.spark.sql.types.StructType
        val qualityMin = 0.6
        val C = 2 // compaction cadence, in micro-batches
        val staged = s"$tmp/staged"
        val out = s"$tmp/survivors"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staged))
        val raw = Tables.documents(s, d).select("doc_id", "source",
          "text")
        val maxId = raw.agg(max("doc_id")).head().getLong(0)
        val hi = maxId + 1
        // bulk history (97%) then three 1% increments — one staging
        // job, one file per slice, ascending mod-times (q342 idiom)
        val bounds = (Seq(0L, hi * 97 / 100) ++
          (98 to 100).map(p => hi * p / 100)).distinct
        // fail fast naming the cause (ADVICE r16): on a corpus small
        // enough that adjacent 1% bounds coincide the stream would
        // run < 4 batches and the multi_batch/bound_nonvacuous gates
        // would go red with no hint the STAGING degenerated
        require(bounds.size == 5,
          s"corpus too small for bulk+3x1% staging: maxId=$maxId " +
            s"collapses bounds to $bounds")
        val t0 = System.currentTimeMillis() - 120000L
        val sliceCase = bounds.sliding(2).zipWithIndex.map {
          case (lohi, k) =>
            s"WHEN doc_id >= ${lohi.head} AND doc_id < ${lohi(1)} " +
              s"THEN $k" }.mkString("CASE ", " ", " ELSE -1 END")
        raw.withColumn("slice", expr(sliceCase))
          .where(col("slice") >= 0)
          .repartition(col("slice"))
          .write.partitionBy("slice").parquet(s"$tmp/slices")
        bounds.sliding(2).zipWithIndex.foreach { case (_, k) =>
          val dir = new java.io.File(s"$tmp/slices/slice=$k")
          val f = Option(dir.listFiles()).getOrElse(Array.empty)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"empty slice $k"))
          val dst = java.nio.file.Paths.get(staged,
            f"part-$k%02d.parquet")
          java.nio.file.Files.move(f.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(t0 + k * 2000L))
        }
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val lastMax = new java.util.concurrent.atomic.AtomicLong(-1L)
        val maxFpb = new java.util.concurrent.atomic.AtomicLong(0L)
        val monoOk = new java.util.concurrent.atomic.AtomicBoolean(true)
        val stE = new TierStore(s, tmp.toString, "ek",
          "ek STRING, owner BIGINT, pb INT",
          df => df.groupBy("pb", "ek").agg(min("owner").as("owner")),
          maxFpb)
        val stB = new TierStore(s, tmp.toString, "band",
          "bk STRING, doc_id BIGINT, hs ARRAY<BIGINT>, pb INT",
          df => df.select("pb", "bk", "doc_id", "hs"), maxFpb)
        val stC = new TierStore(s, tmp.toString, "cls",
          "ka BIGINT, kb BIGINT, doc_id BIGINT, pb INT",
          df => df.groupBy("pb", "ka", "kb")
            .agg(min("doc_id").as("doc_id")), maxFpb)
        // local-fs partition discovery: listing a few hundred pb=
        // dirs sequentially on the driver is microseconds, but the
        // default threshold (32) launches a Spark listing JOB for
        // every probe/fold read of a bucketed base. Lane-local;
        // restored right after the stream drains.
        val discKey =
          "spark.sql.sources.parallelPartitionDiscovery.threshold"
        // batch-loop shuffles move ~1%-increment key sets; 32-task
        // shuffles are pure scheduler overhead at that size (the
        // corpus-scale chain work is mapPartitions over the INPUT
        // partitioning, which this does not touch). Lane-local.
        // evidence integrity: AQE's empty-relation propagation
        // replaces an empty drop-set join with its left input and
        // DROPS the already-executed probe stages from the final
        // plan — the harvested evidence would read scanned=0 for a
        // probe that really ran. Excluding just that rule keeps
        // executed stages in the plan; an empty join costs nothing
        // to run to completion. Lane-local; restored below.
        // (r17 A/B, profiled: AQE OFF was tried to cut the per-stage
        // replanning jobs — 204 -> 90 jobs — but lost the runtime
        // broadcast conversion of the increment-sized join sides, so
        // the cascade's joins fell back to static SMJ and jobMs went
        // 25 s -> 38 s. AQE's runtime sizing IS the scale-adaptive
        // join pick here — broadcast at increment scale, shuffled at
        // corpus scale — so it stays on.)
        val aqeExclKey = "spark.sql.adaptive.optimizer.excludedRules"
        Graft.withConf(s, discKey -> "100000",
            "spark.sql.shuffle.partitions" -> "8",
            aqeExclKey -> ("org.apache.spark.sql.execution." +
              "adaptive.AQEPropagateEmptyRelation")) {
          val q = s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$staged/part-*.parquet")
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              {
                // job labels (guide §1.5): phase attribution in the UI /
                // LaneProfile; zero effect on the computation
                def lbl(x: String): Unit =
                  s.sparkContext.setJobDescription(
                    if (x == null) null else s"q327 $x")
                // emptiness + the monotone-arrival hard check run on
                // the RAW batch (ADVICE r16: an all-filtered slice must
                // still count a batch and have its arrival order
                // checked — on the filtered frame a staging regression
                // that rejects every row would be silently skipped)
                lbl("raw:minmax")
                val r = b.agg(min("doc_id"), max("doc_id")).head()
                if (!r.isNullAt(0)) {
                nBatches.incrementAndGet()
                if (r.getLong(0) <= lastMax.get()) monoOk.set(false)
                require(r.getLong(0) > lastMax.get(),
                  s"arrival order regressed: ${r.getLong(0)} <= " +
                    s"${lastMax.get()}")
                lastMax.set(r.getLong(1))
                // q320's fused ingest + feature projection (row-local).
                // repartition FIRST (q320's ingest idiom): a micro-batch
                // arrives as 1 staged file = 1 scan task, so without
                // this the WARC/HTML/tokenize chain for the bulk batch
                // (97% of the corpus) ran single-threaded — measured
                // 6.9 s in one task at sf0.1 vs ~0.5 s spread over the
                // session's cores (guide §2.5 input skew: one
                // unsplittable input, repartition right after the read)
                val feat = b.select("doc_id", "source", "text")
                  .repartition(s.sparkContext.defaultParallelism)
                  .as[(Long, String, String)]
                  .mapPartitions(_.map { case (id, src, text) =>
                    ingestDoc(id, src, text)
                  })
                  .toDF("doc_id", "source", "text", "admit")
                  .withColumn("toks", expr(sparkToks))
                  .selectExpr("doc_id", "admit",
                    s"${sparkQualityOf("toks")} as score",
                    "md5(text) as ek",
                    s"transform(toks, t -> ${sparkTokHash("t")}) as th",
                    s"array_distinct(transform(${sparkShingles("toks")}" +
                      s", g -> ${sparkTokHash("g")} % $P)) as hs",
                    "size(toks) as ntok")
                  .withColumn("bks", expr(SigTable.bandExpr))
                  .where(s"admit AND score >= $qualityMin")
                  .persist()
                if (!stE.baseExists) {
                  // bucket sizing from the bulk batch itself (the
                  // production bootstrap posture): keys/256 per tier,
                  // floor 128, cap 4096 — ek keys ~ docs, band keys ~
                  // 4 x docs, class keys ~ full 32-token windows (the
                  // sizing agg runs ONLY on this bootstrap batch; later
                  // batches pay no feat-wide driver action)
                  lbl("bootstrap:sizing")
                  val rz = feat.agg(count(lit(1)),
                    sum(expr("greatest(ntok - 31, 0)"))).head()
                  val n = rz.getLong(0)
                  val wins = if (rz.isNullAt(1)) 0L else rz.getLong(1)
                  stE.B = pow2Cap(n / 256 + 1)
                  stB.B = pow2Cap(4L * n / 256 + 1)
                  stC.B = pow2Cap(wins / 256 + 1)
                }
                // ---- exact tier: batch mins merged with the pruned
                // prior owners
                val featK = feat.withColumn("pb",
                  pmod(hash(col("ek")), lit(stE.B)))
                lbl("ek:pbs")
                // one-job probed-bucket harvest: collect_set beats a
                // distinct+collect (no extra AQE shuffle-stage jobs on
                // an increment-sized frame). On the BOOTSTRAP batch the
                // probe short-circuits on !baseExists whatever pbs is
                // passed, so the collect over the bulk frame is pure
                // waste — a non-empty sentinel keeps the in-batch
                // cascade branches identical (r17)
                val pbsE =
                  if (stE.baseExists) featK.agg(collect_set("pb")).head()
                    .getSeq[Int](0)
                  else Seq(0)
                val ownE = featK.groupBy("pb", "ek")
                  .agg(min("doc_id").as("bmin"))
                  .join(stE.probe(pbsE).groupBy("ek")
                    .agg(min("owner").as("pmin")), Seq("ek"), "left")
                  .selectExpr("pb", "ek",
                    "least(bmin, coalesce(pmin, bmin)) AS owner")
                  .persist()
                // append DEFERRED to the end-of-batch concurrent write
                // round (r17): ownE's cached plan (probe scan included)
                // is first executed by the band:pbs collect below, so
                // the evidence harvest needs no dedicated action here
                val dropE = feat.select("doc_id", "ek")
                  .join(ownE.select("ek", "owner"), "ek")
                  .where("doc_id != owner").select("doc_id")
                val s1 = feat.join(dropE.withColumnRenamed("doc_id",
                  "de"), col("doc_id") === col("de"), "left_anti")
                // ---- LSH near tier: batch bands probe pruned prior +
                // batch bands (every prior exact-survivor stays a
                // dropper)
                val b1 = s1.select(col("doc_id"), col("hs"),
                    explode(col("bks")).as("bk"))
                  .withColumn("pb", pmod(hash(col("bk")), lit(stB.B)))
                  .persist()
                lbl("band:pbs")
                val pbsB =
                  if (stB.baseExists) b1.agg(collect_set("pb")).head()
                    .getSeq[Int](0)
                  else Seq(0)
                // that collect executed ownE's cached plan (b1's
                // lineage runs s1 -> dropE -> ownE), ek probe scan
                // included — harvest is a metrics read, no job; on the
                // bootstrap batch pending is None and this no-ops. If
                // the collect was skipped, the post-write harvest below
                // picks it up instead.
                if (stB.baseExists) stE.harvestFrom(ownE)
                // dropN persists so the band probe's scan evidence can
                // be harvested from ITS cached plan: in s2's plan an
                // empty dropN lets AQE's empty-relation rule replace
                // the anti-join with s1 and the probe subtree (scan
                // included) vanishes from the executed plan — inside
                // dropN's own plan the probe feeds a join whose inputs
                // are never empty, so the scan always survives
                var dropNRef: DataFrame = null
                var bandAppend: Option[DataFrame] = None
                val s2 = if (pbsB.isEmpty) s1 else {
                  val xSide = stB.probe(pbsB)
                    .select("bk", "doc_id", "hs")
                    .unionByName(b1.select("bk", "doc_id", "hs"))
                  val dropN = b1.alias("y").join(xSide.alias("x"),
                      col("x.bk") === col("y.bk") &&
                        col("x.doc_id") < col("y.doc_id"))
                    .filter(expr(
                      "10 * size(array_intersect(x.hs, y.hs))" +
                        " >= 9 * size(array_union(x.hs, y.hs))"))
                    .select(col("y.doc_id").as("doc_id")).distinct()
                    .persist()
                  dropNRef = dropN
                  // append deferred to the concurrent write round; the
                  // probe's file list was resolved at probe() time, so
                  // the append's new L0 is invisible to xSide either way
                  bandAppend = Some(b1.select("bk", "doc_id", "hs", "pb"))
                  s1.join(dropN.withColumnRenamed("doc_id", "dn"),
                    col("doc_id") === col("dn"), "left_anti")
                }
                val s2c = s2.persist()
                // ---- substring tier: window classes vs pruned prior
                // min owners. Only FULL 32-token windows are kept
                // (positions i <= ntok-32): a padded window's rank
                // folds in the doc-unique short-suffix id, so its
                // class can never match across docs — it owns only
                // itself and drops nothing, on either engine. Skipping
                // those rows halves the class-key universe (docs here
                // average ~54 tokens) without moving the survivor set.
                val cls = s2c.select("doc_id", "th")
                  .as[(Long, Seq[Long])]
                  .flatMap { case (doc, th) =>
                    graft.text.SuffixClasses
                      .probeRanks(doc, th.toArray, Seq(5))
                      .iterator.flatMap { case (_, ra, rb) =>
                        val set = scala.collection.mutable
                          .LinkedHashSet[(Long, Long)]()
                        val lim = math.max(ra.length - 31, 0)
                        var p = 0
                        while (p < lim) {
                          set += ((ra(p), rb(p))); p += 1
                        }
                        set.iterator.map { case (ka, kb) =>
                          (doc, ka, kb) }
                      }
                  }.toDF("doc_id", "ka", "kb")
                  .withColumn("pb",
                    pmod(hash(col("ka"), col("kb")), lit(stC.B)))
                  .persist()
                lbl("cls:pbs")
                val pbsC =
                  if (stC.baseExists) cls.agg(collect_set("pb")).head()
                    .getSeq[Int](0)
                  else Seq(0)
                // that collect materialized cls AND s2c — dropN's
                // cached plan (band probe scan included) has executed
                // (when the collect was skipped on bootstrap, pending is
                // None and the harvest no-ops)
                if (dropNRef != null) {
                  stB.harvestFrom(dropNRef); dropNRef.unpersist(); ()
                }
                // dropS persists for the same evidence-vs-AQE reason
                // as dropN above
                var dropSRef: DataFrame = null
                var clsAppend: Option[DataFrame] = None
                val s3 = if (pbsC.isEmpty) s2c else {
                  val ownC = cls.select("ka", "kb", "doc_id")
                    .unionByName(stC.probe(pbsC)
                      .select("ka", "kb", "doc_id"))
                    .groupBy("ka", "kb").agg(min("doc_id").as("own"))
                  val dropS = cls.join(ownC, Seq("ka", "kb"))
                    .where(col("doc_id") > col("own"))
                    .select("doc_id").distinct().persist()
                  dropSRef = dropS
                  // L0 append pre-folded batch-locally (min per class)
                  clsAppend = Some(cls.groupBy("pb", "ka", "kb")
                    .agg(min("doc_id").as("doc_id")))
                  s2c.join(dropS.withColumnRenamed("doc_id", "ds"),
                    col("doc_id") === col("ds"), "left_anti")
                }
                // ---- end-of-batch write round (r17): the three tier
                // appends and the survivors write are mutually
                // independent sinks over already-built cached frames,
                // so they run CONCURRENTLY from driver threads (guide
                // §2.6 — tail tasks of one write back-fill cores for
                // the next) instead of as four sequential actions. The
                // survivors write materializes dropS's cache, class
                // probe scan included.
                {
                  import scala.concurrent.{Await, Future}
                  import scala.concurrent.ExecutionContext.Implicits.global
                  Await.result(Future.sequence(Seq(
                    Future {
                      lbl("ek:append"); stE.append(ownE)
                    },
                    Future {
                      bandAppend.foreach { df =>
                        lbl("band:append"); stB.append(df) }
                    },
                    Future {
                      clsAppend.foreach { df =>
                        lbl("cls:append"); stC.append(df) }
                    },
                    Future {
                      lbl("survivors:write")
                      s3.select("doc_id", "ntok")
                        .write.mode("append").parquet(out)
                    })),
                    scala.concurrent.duration.Duration.Inf)
                }
                // catch-all for the bootstrap path where no mid-batch
                // collect ran ownE's plan: by now every cache has been
                // executed by the write round (no-op when already
                // harvested — pending clears on first harvest)
                stE.harvestFrom(ownE)
                if (dropSRef != null) {
                  stC.harvestFrom(dropSRef); dropSRef.unpersist(); ()
                }
                // the CADENCE: every C batches, fold all three tiers
                // (concurrently — three driver threads submit disjoint
                // jobs, so the fold round costs max(tier), not sum)
                if (nBatches.get() % C == 0) {
                  import scala.concurrent.{Await, Future}
                  import scala.concurrent.ExecutionContext.Implicits.global
                  Await.result(Future.sequence(Seq(
                    Future(stE.foldNow()), Future(stB.foldNow()),
                    Future(stC.foldNow()))),
                    scala.concurrent.duration.Duration.Inf)
                }
                cls.unpersist(); s2c.unpersist(); b1.unpersist()
                ownE.unpersist(); feat.unpersist()
                lbl(null)
                }
              }
              ()
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        Console.err.println(s"Q327_CADENCE batches=${nBatches.get()} " +
          s"folds=${stE.folds}/${stB.folds}/${stC.folds} " +
          s"B=${stE.B}/${stB.B}/${stC.B} maxFpb=${maxFpb.get()} " +
          Seq(("ek", stE.ev), ("band", stB.ev), ("cls", stC.ev))
            .map { case (t, ev) => s"$t: " + ev.map {
              case (a, m, tt, pf) => s"$a/$m/$tt pf=$pf" }
              .mkString(" | ") }.mkString(" ;; "))
        def readOr(path: String, ddl: String): DataFrame =
          if (new java.io.File(path).exists())
            s.read.schema(StructType.fromDDL(ddl)).parquet(path)
          else emptyOf(s, ddl)
        def pruneRows(t: String,
            ev: Seq[(Long, Long, Long, Boolean)]) = Seq(
          (s"prune_$t", "pf_present", 1L,
            if (ev.nonEmpty && ev.forall(_._4)) 1L else 0L),
          (s"prune_$t", "scanned_eq_matching", 1L,
            if (ev.nonEmpty &&
              ev.forall(e => e._1 == e._2)) 1L else 0L),
          (s"prune_$t", "scanned_lt_total", 1L,
            if (ev.nonEmpty && ev.forall(e => e._1 < e._3)) 1L
            else 0L))
        readOr(out, "doc_id BIGINT, ntok BIGINT")
          .selectExpr("'doc' AS kind", "CAST(doc_id AS STRING) AS key",
            "1L AS n", "ntok AS v")
          .unionByName((Seq(
            ("stream", "multi_batch", 1L,
              if (nBatches.get() >= 4) 1L else 0L),
            ("stream", "ascending_arrival", 1L,
              if (monoOk.get() && nBatches.get() > 0) 1L else 0L)) ++
            pruneRows("ek", stE.ev.toSeq) ++
            pruneRows("band", stB.ev.toSeq) ++
            pruneRows("cls", stC.ev.toSeq) ++ Seq(
            ("compact", "folds_per_tier_ge_1", 1L,
              if (Seq(stE.folds, stB.folds, stC.folds).min >= 1) 1L
              else 0L),
            ("compact", "folds_total_ge_4", 1L,
              if (stE.folds + stB.folds + stC.folds >= 4) 1L
              else 0L),
            ("compact", "probe_bounded_by_cadence", 1L,
              if (maxFpb.get() >= 1L && maxFpb.get() <= C) 1L
              else 0L),
            ("compact", "bound_nonvacuous", 1L,
              if (nBatches.get() - 1 > C) 1L else 0L)))
            .toDF("kind", "key", "n", "v"))
      },
      Some(s"""WITH $duckCascadePrefix
            SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS key,
              CAST(1 AS BIGINT) AS n, CAST(ntok AS BIGINT) AS v
            FROM s3
            UNION ALL SELECT 'stream', 'multi_batch', 1, 1
            UNION ALL SELECT 'stream', 'ascending_arrival', 1, 1
            UNION ALL SELECT 'prune_ek', 'pf_present', 1, 1
            UNION ALL SELECT 'prune_ek', 'scanned_eq_matching', 1, 1
            UNION ALL SELECT 'prune_ek', 'scanned_lt_total', 1, 1
            UNION ALL SELECT 'prune_band', 'pf_present', 1, 1
            UNION ALL SELECT 'prune_band', 'scanned_eq_matching', 1, 1
            UNION ALL SELECT 'prune_band', 'scanned_lt_total', 1, 1
            UNION ALL SELECT 'prune_cls', 'pf_present', 1, 1
            UNION ALL SELECT 'prune_cls', 'scanned_eq_matching', 1, 1
            UNION ALL SELECT 'prune_cls', 'scanned_lt_total', 1, 1
            UNION ALL SELECT 'compact', 'folds_per_tier_ge_1', 1, 1
            UNION ALL SELECT 'compact', 'folds_total_ge_4', 1, 1
            UNION ALL SELECT 'compact', 'probe_bounded_by_cadence',
              1, 1
            UNION ALL SELECT 'compact', 'bound_nonvacuous', 1, 1"""),
      doc = "streaming dedup-on-ingest with ALL THREE tier states in " +
        "the bucketed cadence store (pb-bucketed base + <= C-1 L0 " +
        "appends, fold every C=2 micro-batches): per-tier per-batch " +
        "executed-scan pruning evidence, max files per probed bucket " +
        "bounded by the cadence, survivors equal the batch cascade " +
        "doc-for-doc"),

    // OUT-OF-ORDER arrival reconciliation — q327's contract says
    // min-owner verdicts are final only under monotone doc_id arrival;
    // this lane is the shape for when that does NOT hold (a crawl
    // re-ingesting history, a backfill landing after fresh data):
    // the stream phase does ALL the expensive row-local work per
    // arrival batch (WARC/HTML codec, tokenize, signatures, window
    // classes) and appends OWNERSHIP CLAIMS — id-sized exact keys,
    // signature-sized band rows, id-sized window classes — with NO
    // verdicts emitted; a SYNC-POINT FOLD then resolves ownership by
    // pure min-merges and claim-table joins (no text ever
    // re-processed). Min is merge-associative and order-free, so the
    // fold's answer is the batch answer for ANY arrival permutation —
    // the gate stages the corpus in a deliberately SHUFFLED range
    // order and hard-checks that out-of-orderness was actually
    // observed. This is the daily-fold/hourly-ingest split a 100 TB
    // pipeline runs when arrival order cannot be trusted.
    Q("q330_ooo_dedup_reconcile",
      (s, d) => Graft.scratchLane("q330_ooo") { tmp =>
        val sp = s
        import sp.implicits._
        import org.apache.spark.sql.types.StructType
        val qualityMin = 0.6
        val staged = s"$tmp/staged"
        val (clF, clB, clC) = (s"$tmp/claim_feat", s"$tmp/claim_band",
          s"$tmp/claim_cls")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staged))
        val raw = Tables.documents(s, d).select("doc_id", "source",
          "text")
        val maxId = raw.agg(max("doc_id")).head().getLong(0)
        val width = maxId / 8 + 1
        // deliberately SHUFFLED arrival: range k ships in slot
        // perm(k) — lower-id docs arrive after higher-id ones.
        // ONE staging job (the q327/q342 idiom, r17): slice ids
        // assigned in-plan, one file per slice via repartition(slice)
        // + partitionBy — the former per-slice coalesce(1) writes
        // cost one job round-trip per slice (8 jobs)
        val perm = Array(3, 0, 6, 1, 7, 2, 5, 4)
        val t0 = System.currentTimeMillis() - 120000L
        raw.withColumn("slice",
            expr(s"cast(doc_id div $width as int)"))
          .where(col("slice") >= 0 && col("slice") < 8)
          .repartition(col("slice"))
          .write.partitionBy("slice").parquet(s"$tmp/slices")
        (0 until 8).foreach { k =>
          val dir = new java.io.File(s"$tmp/slices/slice=$k")
          val f = Option(dir.listFiles()).getOrElse(Array.empty)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"empty slice $k"))
          val dst = java.nio.file.Paths.get(staged,
            f"part-${perm(k)}%02d.parquet")
          java.nio.file.Files.move(f.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime
              .fromMillis(t0 + perm(k) * 2000L))
        }
        def readOr(path: String, ddl: String): DataFrame =
          if (new java.io.File(path).exists())
            s.read.schema(StructType.fromDDL(ddl)).parquet(path)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType.fromDDL(ddl))
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val ooSeen = new java.util.concurrent.atomic.AtomicLong(0L)
        val prevMax = new java.util.concurrent.atomic
          .AtomicLong(Long.MinValue)
        // ---- stream phase: row-local work only, claims appended,
        // no verdicts (order-free by construction). Lane-local 8-task
        // shuffles (the q327 idiom, r17): the batch loop's claim joins
        // move increment-sized keyed rows; 32-task shuffles on that are
        // pure scheduler overhead.
        Graft.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
          val q = s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(s"$staged/part-*.parquet")
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              {
                // ONE driver action covers emptiness and the order
                // check (was isEmpty + a min/max agg — two jobs per
                // micro-batch; the q332/q342 fusion, applied here r17)
                val r = b.agg(min("doc_id"), max("doc_id")).head()
                if (!r.isNullAt(0)) {
                nBatches.incrementAndGet()
                // the gate's premise: arrival really is out of order —
                // a batch delivering ids BELOW something already seen.
                // (ADVICE r13: the earlier `batch max > min of prior
                // batches` form was vacuous — true under perfectly
                // ascending arrival too, so a regression in the staged
                // file ordering could never fail this check.)
                if (r.getLong(0) < prevMax.get()) ooSeen.set(1L)
                prevMax.set(math.max(prevMax.get(), r.getLong(1)))
                // repartition FIRST (q320's ingest idiom, r17): a
                // micro-batch arrives as 2 staged files = 2 scan tasks,
                // so the WARC/HTML/tokenize chain ran near-serial
                val feat = b.select("doc_id", "source", "text")
                  .repartition(s.sparkContext.defaultParallelism)
                  .as[(Long, String, String)]
                  .mapPartitions(_.map { case (id, src, text) =>
                    ingestDoc(id, src, text)
                  })
                  .toDF("doc_id", "source", "text", "admit")
                  .withColumn("toks", expr(sparkToks))
                  .selectExpr("doc_id", "admit",
                    s"${sparkQualityOf("toks")} as score",
                    "md5(text) as ek",
                    s"transform(toks, t -> ${sparkTokHash("t")}) as th",
                    s"array_distinct(transform(${sparkShingles("toks")}" +
                      s", g -> ${sparkTokHash("g")} % $P)) as hs",
                    "size(toks) as ntok")
                  .withColumn("bks", expr(SigTable.bandExpr))
                  .where(s"admit AND score >= $qualityMin")
                  .persist()
                // the three claim appends are independent sinks over
                // the one persisted feat frame — run them CONCURRENTLY
                // from driver threads (guide §2.6; the q327 r17 write
                // round). Concurrent first-materialization of feat is
                // block-level deduplicated by the cache manager.
                val clCDf: DataFrame = feat.select("doc_id", "th")
                  .as[(Long, Seq[Long])]
                  .flatMap { case (doc, th) =>
                    graft.text.SuffixClasses
                      .probeRanks(doc, th.toArray, Seq(5))
                      .iterator.flatMap { case (_, ra, rb) =>
                        val set = scala.collection.mutable
                          .LinkedHashSet[(Long, Long)]()
                        var p = 0
                        while (p < ra.length) {
                          set += ((ra(p), rb(p))); p += 1
                        }
                        set.iterator.map { case (ka, kb) =>
                          (ka, kb, doc) }
                      }
                  }.toDF("ka", "kb", "doc_id")
                locally {
                  import scala.concurrent.{Await, Future}
                  import scala.concurrent.ExecutionContext.Implicits.global
                  val writes = Seq(
                    Future {
                      feat.select("doc_id", "ek", "ntok")
                        .write.mode("append").parquet(clF)
                    },
                    Future {
                      feat.select(col("doc_id"), col("hs"),
                          explode(col("bks")).as("bk"))
                        .select("bk", "doc_id", "hs")
                        .write.mode("append").parquet(clB)
                    },
                    Future {
                      clCDf.write.mode("append").parquet(clC)
                    })
                  writes.foreach(Await.result(_,
                    scala.concurrent.duration.Duration.Inf))
                }
                feat.unpersist()
                }
              }
              ()
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        // batch-loop tuning ends with the stream: the sync-point fold
        // below is CORPUS-scale (claim joins, the band self-join), so
        // it gets the session's full shuffle width back — the 8-task
        // conf crammed the fold into a quarter of the box (r17)
        // ---- sync-point fold: pure min-merges + claim joins, no
        // text — the tiers sequence exactly as the batch cascade.
        // Intermediates persist for the fold's lifetime and the
        // survivors MATERIALIZE to parquet (the q320 stage-boundary
        // discipline): without this the returned lineage re-expands
        // the claim_feat scan ×28 and the fold's keyed joins ride
        // along — PlanAudit's repeated-scan rule caught exactly that
        // on the first cut of this lane.
        val outDir = s"$tmp/survivors"
        val feats = readOr(clF, "doc_id BIGINT, ek STRING, ntok BIGINT")
          .persist()
        val dropE = feats.join(
            feats.groupBy("ek").agg(min("doc_id").as("own")), "ek")
          .where("doc_id != own").select("doc_id")
        val s1ids = feats.join(dropE.withColumnRenamed("doc_id", "de"),
          col("doc_id") === col("de"), "left_anti").select("doc_id")
          .persist()
        val b1 = readOr(clB, "bk STRING, doc_id BIGINT, hs ARRAY<BIGINT>")
          .join(s1ids.withColumnRenamed("doc_id", "s1"),
            col("doc_id") === col("s1")).drop("s1")
          .persist()
        val dropN = b1.alias("x").join(b1.alias("y"),
            col("x.bk") === col("y.bk") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(expr("10 * size(array_intersect(x.hs, y.hs)) >= " +
            "9 * size(array_union(x.hs, y.hs))"))
          .select(col("y.doc_id").as("doc_id")).distinct()
        val s2ids = s1ids.join(dropN.withColumnRenamed("doc_id", "dn"),
          col("doc_id") === col("dn"), "left_anti").persist()
        val cls = readOr(clC, "ka BIGINT, kb BIGINT, doc_id BIGINT")
          .join(s2ids.withColumnRenamed("doc_id", "s2"),
            col("doc_id") === col("s2")).drop("s2")
          .persist()
        val dropS = cls.join(
            cls.groupBy("ka", "kb").agg(min("doc_id").as("own")),
            Seq("ka", "kb"))
          .where(col("doc_id") > col("own"))
          .select("doc_id").distinct()
        feats.join(s2ids.join(dropS.withColumnRenamed("doc_id", "ds"),
            col("doc_id") === col("ds"), "left_anti")
            .withColumnRenamed("doc_id", "keep"),
          col("doc_id") === col("keep"))
          .select("doc_id", "ntok")
          .write.parquet(outDir)
        cls.unpersist(); s2ids.unpersist(); b1.unpersist()
        s1ids.unpersist(); feats.unpersist()
        readOr(outDir, "doc_id BIGINT, ntok BIGINT")
          .selectExpr("'doc' AS kind", "CAST(doc_id AS STRING) AS key",
            "1L AS n", "ntok AS v")
          .unionByName(Seq(
            ("stream", "multi_batch", 1L,
              if (nBatches.get() >= 4) 1L else 0L),
            ("stream", "out_of_order_observed", 1L, ooSeen.get()))
            .toDF("kind", "key", "n", "v"))
      },
      Some(s"""WITH $duckCascadePrefix
            SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS key,
              CAST(1 AS BIGINT) AS n, CAST(ntok AS BIGINT) AS v
            FROM s3
            UNION ALL SELECT 'stream', 'multi_batch', 1, 1
            UNION ALL SELECT 'stream', 'out_of_order_observed', 1, 1"""),
      doc = "out-of-order arrival reconciliation: per-batch row-local " +
        "claims (exact keys, band signatures, window classes), " +
        "sync-point min-merge fold — batch-cascade-equal under ANY " +
        "arrival permutation (shuffled-order hard check)"),

    // Compacted keyed tier state for dedup-on-ingest (VERDICT r13 #3):
    // q327 proves the incremental cascade but re-reads its FULL
    // accumulated state per micro-batch — correct, and O(total state)
    // per batch. This lane gates the 100 TB store shape for that
    // state: the owner table lives at rest PARTITIONED on a probe-key
    // bucket (pb = hash(ek) mod 128; B scales with the corpus in
    // production, like an LSM store's key space), each arrival batch
    // probes ONLY the buckets its own keys hash into — partition
    // pruning PROVEN per batch from the executed scan's metrics
    // (q329's evidence path: partitionFilters present, numFiles ==
    // files under matching pb= dirs, strictly < the state's total) —
    // appends its contribution back into the bucketed layout, and a
    // MID-STREAM sync point compacts the appends (min-over-appends is
    // merge-associative, so compaction is safe at any time — the LSM
    // compaction analog; the file count must drop). Arrival models a
    // real ingest: one bulk-history batch then small increments, which
    // is exactly why the probe is sub-linear — an increment's bucket
    // set is a small fraction of the accumulated store's, and the gap
    // widens as state grows. Survivors must equal the batch exact
    // dedup doc-for-doc.
    Q("q332_bucketed_state_ingest",
      (s, d) => Graft.scratchLane("q332_bucketed") { tmp =>
        val sp = s
        import sp.implicits._
        import org.apache.spark.sql.types.StructType
        val B = 128
        val staged = s"$tmp/staged"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staged))
        val raw = Tables.documents(s, d).select("doc_id", "text")
        val maxId = raw.agg(max("doc_id")).head().getLong(0)
        val hi = maxId + 1
        // bulk history (85%) then three 5% increments — the real
        // ingest cadence, and the regime where bucket pruning pays
        val bounds = Seq(0L, hi * 85 / 100,
          hi * 90 / 100, hi * 95 / 100, hi).distinct
        val t0 = System.currentTimeMillis() - 120000L
        // ONE staging job: slice ids assigned in-plan, one file per
        // slice via repartition(slice) + partitionBy (per-slice
        // coalesce(1) writes cost one job round-trip per slice)
        val sliceCase = bounds.sliding(2).zipWithIndex.map {
          case (lohi, k) =>
            s"WHEN doc_id >= ${lohi.head} AND doc_id < ${lohi(1)} " +
              s"THEN $k" }.mkString("CASE ", " ", " ELSE -1 END")
        raw.withColumn("slice", expr(sliceCase))
          .where(col("slice") >= 0)
          .repartition(col("slice"))
          .write.partitionBy("slice").parquet(s"$tmp/slices")
        bounds.sliding(2).zipWithIndex.foreach { case (_, k) =>
          val dir = new java.io.File(s"$tmp/slices/slice=$k")
          val f = Option(dir.listFiles()).getOrElse(Array.empty)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"empty slice $k"))
          val dst = java.nio.file.Paths.get(staged,
            f"part-$k%02d.parquet")
          java.nio.file.Files.move(f.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(t0 + k * 2000L))
        }
        var curRoot = s"$tmp/state_v0"
        val outDir = s"$tmp/survivors"
        // lane-local session tuning (the q327 idiom, r17): sequential
        // driver listing of the 128 pb= dirs instead of a Spark
        // listing job per state read, and 8-task batch-loop shuffles
        // (increment-sized key sets). Restored after the stream.
        val discKey =
          "spark.sql.sources.parallelPartitionDiscovery.threshold"
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val lastMax = new java.util.concurrent.atomic.AtomicLong(-1L)
        val compacted = new java.util.concurrent.atomic.AtomicLong(0L)
        // observed-monotonicity verdict backing the gate row (the
        // require in the batch body still kills the lane on regression)
        val monoOk = new java.util.concurrent.atomic.AtomicBoolean(true)
        // one 4-tuple per probed batch: (scanned, matching, total, pf)
        val evid = scala.collection.mutable
          .ArrayBuffer[(Long, Long, Long, Boolean)]()
        // (stateRoot, matching, total) staged per probe, resolved into
        // evid after the consuming batch action ran
        var pendEv: Option[(String, Long, Long)] = None
        Graft.withConf(s, discKey -> "100000",
            "spark.sql.shuffle.partitions" -> "8") {
          val q = s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$staged/part-*.parquet")
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              {
                def lbl(x: String): Unit =
                  s.sparkContext.setJobDescription(
                    if (x == null) null else s"q332 $x")
                val feat = b.selectExpr("doc_id", "md5(text) AS ek",
                    "CAST(length(text) AS BIGINT) AS L")
                  .withColumn("pb", pmod(hash(col("ek")), lit(B)))
                  .persist()
                // ONE driver action covers emptiness, the order check
                // and the probed bucket set (was isEmpty + min/max agg
                // + a distinct collect — three jobs per micro-batch;
                // the q342 fusion, applied here r17)
                lbl("feat:agg")
                val stRow = feat.agg(min("doc_id"), max("doc_id"),
                  collect_set("pb")).head()
                if (stRow.isNullAt(0)) feat.unpersist() else {
                nBatches.incrementAndGet()
                if (stRow.getLong(0) <= lastMax.get()) monoOk.set(false)
                require(stRow.getLong(0) > lastMax.get(),
                  s"arrival order regressed: ${stRow.getLong(0)} <= " +
                    s"${lastMax.get()}")
                lastMax.set(stRow.getLong(1))
                val pbs = stRow.getSeq[Int](2)
                val all = stateFiles(curRoot)
                val pmin: DataFrame =
                  if (all.isEmpty)
                    Seq.empty[(String, Long)].toDF("ek", "pmin")
                  else {
                    val stRead = s.read.parquet(curRoot)
                      .where(col("pb").isin(pbs: _*))
                    // evidence bookkeeping only — scan metrics are
                    // harvested from the consuming job's executed plan
                    // (the q327 r17 shape: the dedicated per-probe
                    // count(1) job doubled probe IO)
                    pendEv = Some((curRoot, all.count(pth =>
                      pbs.exists(v => pth.contains(s"/pb=$v/"))).toLong,
                      all.size.toLong))
                    stRead.groupBy("ek").agg(min("owner").as("pmin"))
                  }
                // batch-keys-sized; persisted so the survivors write
                // and the state append don't EACH re-run the bucket
                // probe scan (r17: the q342 persist, applied here)
                val ownE = feat.groupBy("ek")
                  .agg(min("doc_id").as("bmin"))
                  .join(pmin, Seq("ek"), "left")
                  .selectExpr("ek",
                    "least(bmin, coalesce(pmin, bmin)) AS owner")
                  .persist()
                lbl("survivors:write")
                feat.join(ownE, "ek").where("doc_id = owner")
                  .select("doc_id", "L")
                  .write.mode("append").parquet(outDir)
                // the survivors write just executed ownE's cached plan,
                // probe scan included — zero-extra-job evidence harvest
                pendEv.foreach { case (dir, matching, total) =>
                  val sc = scansDeep(ownE.queryExecution.executedPlan)
                    .filter(_.relation.location.rootPaths
                      .exists(_.toString.contains(dir)))
                  evid += ((sc.map(_.metrics("numFiles").value).sum,
                    matching, total,
                    sc.nonEmpty && sc.forall(_.partitionFilters.nonEmpty)))
                  pendEv = None
                }
                lbl("state:append")
                // write width = the session's parallelism, NOT the
                // 8-task batch-loop shuffle conf: these writes create
                // one parquet file per touched pb= dir and the
                // file-create latency is the cost, so spreading the
                // buckets over every core parallelizes the creates
                // (r17; file count per append is unchanged — it is the
                // touched-bucket count either way)
                ownE.withColumn("pb", pmod(hash(col("ek")), lit(B)))
                  .repartition(s.sparkContext.defaultParallelism,
                    col("pb"))
                  .write.mode("append").partitionBy("pb")
                  .parquet(curRoot)
                ownE.unpersist()
                feat.unpersist()
                // mid-stream sync point: compact the appends (safe by
                // min-merge associativity); probes after this read the
                // compacted generation
                if (nBatches.get() == 3) {
                  val pre = stateFiles(curRoot).size
                  val nxt = s"$tmp/state_v${nBatches.get()}"
                  s.read.parquet(curRoot).groupBy("pb", "ek")
                    .agg(min("owner").as("owner"))
                    .repartition(s.sparkContext.defaultParallelism,
                      col("pb"))
                    .write.partitionBy("pb").parquet(nxt)
                  curRoot = nxt
                  val post = stateFiles(curRoot).size
                  if (post < pre && post > 0) compacted.set(1L)
                }
                }
                lbl(null)
              }
              ()
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        val evs = evid.toSeq
        // measured pruning, for the scale notes (stderr, not output)
        Console.err.println(s"Q332_PRUNE " + evs.map { case (a, b, c, p)
          => s"scanned=$a matching=$b total=$c pf=$p" }.mkString(" | "))
        def readOr(path: String, ddl: String): DataFrame =
          if (new java.io.File(path).exists())
            s.read.schema(StructType.fromDDL(ddl)).parquet(path)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType.fromDDL(ddl))
        readOr(outDir, "doc_id BIGINT, L BIGINT")
          .selectExpr("'doc' AS kind", "CAST(doc_id AS STRING) AS key",
            "1L AS n", "L AS v")
          .unionByName(Seq(
            ("stream", "multi_batch", 1L,
              if (nBatches.get() >= 4) 1L else 0L),
            ("stream", "ascending_arrival", 1L,
              if (monoOk.get() && nBatches.get() > 0) 1L else 0L),
            ("prune", "pf_present", 1L,
              if (evs.nonEmpty && evs.forall(_._4)) 1L else 0L),
            ("prune", "scanned_eq_matching", 1L,
              if (evs.nonEmpty &&
                evs.forall(e => e._1 == e._2)) 1L else 0L),
            ("prune", "scanned_lt_total", 1L,
              if (evs.nonEmpty &&
                evs.forall(e => e._1 < e._3)) 1L else 0L),
            ("prune", "compacted", 1L, compacted.get()))
            .toDF("kind", "key", "n", "v"))
      },
      Some("""WITH s AS (SELECT doc_id, md5(text) AS ek,
              len(text) AS L FROM documents),
            own AS (SELECT ek, min(doc_id) AS own FROM s GROUP BY 1)
            SELECT 'doc' AS kind, CAST(s.doc_id AS VARCHAR) AS key,
              CAST(1 AS BIGINT) AS n, CAST(L AS BIGINT) AS v
            FROM s JOIN own USING (ek) WHERE s.doc_id = own.own
            UNION ALL SELECT 'stream', 'multi_batch', 1, 1
            UNION ALL SELECT 'stream', 'ascending_arrival', 1, 1
            UNION ALL SELECT 'prune', 'pf_present', 1, 1
            UNION ALL SELECT 'prune', 'scanned_eq_matching', 1, 1
            UNION ALL SELECT 'prune', 'scanned_lt_total', 1, 1
            UNION ALL SELECT 'prune', 'compacted', 1, 1"""),
      doc = "bucket-partitioned compacted owner state for dedup-on-" +
        "ingest: per-batch probes prune to matching pb= buckets " +
        "(executed-scan evidence), mid-stream compaction, survivors " +
        "equal batch exact dedup"),

    // q332 proves the bucketed layout and ONE mid-stream sync-point
    // compaction; this lane gates the production STEADY STATE on top
    // of it (ROADMAP r15 #4): under indefinite ingest — a bulk-history
    // batch then SEVEN increments — the min-merge fold (q330's
    // compaction operation; associative, so safe at any batch
    // boundary) runs on a fixed CADENCE of every C=2 batches BETWEEN
    // micro-batches, and the gated invariant is that probe cost stays
    // BOUNDED by the cadence, not by how long the stream has been
    // running: the max parquet files under any probed pb= bucket,
    // observed at every probe across the whole run, never exceeds C
    // (each compaction folds a bucket back to one file; at most C-1
    // appends accumulate before the next fold), while an uncompacted
    // run of the same length would have reached nBatches-1 files in a
    // bucket touched by every batch — the bound is non-vacuous and
    // the gap widens forever as ingest continues. Survivors must
    // still equal the batch exact dedup doc-for-doc, and the q332
    // pruning invariants (partitionFilters present, scanned ==
    // matching < total, from EXECUTED scan metrics) must hold at
    // every one of the seven probes.
    Q("q342_compaction_cadence",
      (s, d) => Graft.scratchLane("q342_cadence") { tmp =>
        val sp = s
        import sp.implicits._
        import org.apache.spark.sql.types.StructType
        val C = 2 // compaction cadence, in micro-batches
        val staged = s"$tmp/staged"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staged))
        val raw = Tables.documents(s, d).select("doc_id", "text")
        val maxId = raw.agg(max("doc_id")).head().getLong(0)
        val hi = maxId + 1
        // bucket count SCALES with the corpus (q332 documents this as
        // the production posture; this lane does it): B = the power of
        // two ≥ corpus/32, floored at 128 — a 3% increment (~corpus/33
        // keys) always covers a strict subset of buckets, so the
        // pruning invariant is scale-stable (a FIXED B=128 loses
        // pruning the moment one increment carries ≥128 distinct keys,
        // as the 10× soak showed). /32 not /16: every generation write
        // costs ~B parquet files on a single box, and the invariants
        // only need increment keys < B — production B trades bucket
        // granularity against executor count, not file-create latency
        val B = {
          var b = 128L
          while (b < hi / 32) b <<= 1
          b.toInt
        }
        // bulk history (79%) then seven 3% increments — enough
        // that an unbounded layout would visibly diverge (10 appends)
        val bounds = (Seq(0L, hi * 79 / 100) ++
          (82 to 100 by 3).map(p => hi * p / 100)).distinct
        val t0 = System.currentTimeMillis() - 120000L
        // ONE staging job: slice ids assigned in-plan, one file per
        // slice via repartition(slice) + partitionBy (per-slice
        // coalesce(1) writes cost one job round-trip per slice)
        val sliceCase = bounds.sliding(2).zipWithIndex.map {
          case (lohi, k) =>
            s"WHEN doc_id >= ${lohi.head} AND doc_id < ${lohi(1)} " +
              s"THEN $k" }.mkString("CASE ", " ", " ELSE -1 END")
        raw.withColumn("slice", expr(sliceCase))
          .where(col("slice") >= 0)
          .repartition(col("slice"))
          .write.partitionBy("slice").parquet(s"$tmp/slices")
        bounds.sliding(2).zipWithIndex.foreach { case (_, k) =>
          val dir = new java.io.File(s"$tmp/slices/slice=$k")
          val f = Option(dir.listFiles()).getOrElse(Array.empty)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"empty slice $k"))
          val dst = java.nio.file.Paths.get(staged,
            f"part-$k%02d.parquet")
          java.nio.file.Files.move(f.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(t0 + k * 2000L))
        }
        var curRoot = s"$tmp/state_v0"
        val outDir = s"$tmp/survivors"
        // lane-local session tuning (the q327 idiom, r17): the default
        // parallelPartitionDiscovery threshold (32) launches a Spark
        // listing JOB for every probe/fold read of the ~B-dir bucketed
        // state (~11 jobs over the run) where a sequential driver
        // listing is microseconds; and batch-loop shuffles move
        // increment-sized key sets, so 32-task shuffles are pure
        // scheduler overhead. Both restored after the stream drains.
        val discKey =
          "spark.sql.sources.parallelPartitionDiscovery.threshold"
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val lastMax = new java.util.concurrent.atomic.AtomicLong(-1L)
        val compactions = new java.util.concurrent.atomic.AtomicLong(0L)
        val maxFpb = new java.util.concurrent.atomic.AtomicLong(0L)
        // observed-monotonicity verdict: the gate row is computed
        // from this, not hardcoded (the require below still kills the
        // lane on regression — this makes the row evidence-bearing)
        val monoOk = new java.util.concurrent.atomic.AtomicBoolean(true)
        val evid = scala.collection.mutable
          .ArrayBuffer[(Long, Long, Long, Boolean)]()
        // (stateRoot, matching, total) staged per probe, resolved into
        // evid after the consuming batch action ran
        var pendEv: Option[(String, Long, Long)] = None
        Graft.withConf(s, discKey -> "100000",
            "spark.sql.shuffle.partitions" -> "8") {
          val q = s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$staged/part-*.parquet")
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              {
                def lbl(x: String): Unit =
                  s.sparkContext.setJobDescription(
                    if (x == null) null else s"q342 $x")
                val feat = b.selectExpr("doc_id", "md5(text) AS ek",
                    "CAST(length(text) AS BIGINT) AS L")
                  .withColumn("pb", pmod(hash(col("ek")), lit(B)))
                  .persist()
                lbl("feat:agg")
                // ONE driver action covers emptiness, the order check
                // and the probed bucket set (was isEmpty + min/max agg
                // + a distinct collect — three jobs per micro-batch)
                val stRow = feat.agg(min("doc_id"), max("doc_id"),
                  collect_set("pb")).head()
                if (stRow.isNullAt(0)) feat.unpersist() else {
                nBatches.incrementAndGet()
                if (stRow.getLong(0) <= lastMax.get()) monoOk.set(false)
                require(stRow.getLong(0) > lastMax.get(),
                  s"arrival order regressed: ${stRow.getLong(0)} <= " +
                    s"${lastMax.get()}")
                lastMax.set(stRow.getLong(1))
                val pbs = stRow.getSeq[Int](2)
                val all = stateFiles(curRoot)
                val pmin: DataFrame =
                  if (all.isEmpty)
                    Seq.empty[(String, Long)].toDF("ek", "pmin")
                  else {
                    // probe-cost observable: files per PROBED bucket in
                    // the generation this probe will actually read
                    val fpb = pbs.map(v =>
                      all.count(_.contains(s"/pb=$v/")).toLong)
                      .filter(_ > 0)
                    if (fpb.nonEmpty)
                      maxFpb.getAndUpdate(m => math.max(m, fpb.max))
                    val stRead = s.read.parquet(curRoot)
                      .where(col("pb").isin(pbs: _*))
                    // evidence bookkeeping only — the SCAN metrics are
                    // harvested below from the consuming job's own
                    // executed plan (the q327 r17 shape: the dedicated
                    // per-probe count(1) job doubled probe IO)
                    pendEv = Some((curRoot, all.count(pth =>
                      pbs.exists(v => pth.contains(s"/pb=$v/"))).toLong,
                      all.size.toLong))
                    stRead.groupBy("ek").agg(min("owner").as("pmin"))
                  }
                // batch-keys-sized; persisted so the survivors write
                // and the state append don't EACH re-run the bucket
                // probe scan (the third run per batch the meter showed)
                val ownE = feat.groupBy("ek")
                  .agg(min("doc_id").as("bmin"))
                  .join(pmin, Seq("ek"), "left")
                  .selectExpr("ek",
                    "least(bmin, coalesce(pmin, bmin)) AS owner")
                  .persist()
                lbl("survivors:write")
                feat.join(ownE, "ek").where("doc_id = owner")
                  .select("doc_id", "L")
                  .write.mode("append").parquet(outDir)
                // the survivors write just executed ownE's cached plan,
                // probe scan included — harvest its executed-scan
                // pruning evidence with zero extra jobs
                pendEv.foreach { case (dir, matching, total) =>
                  val sc = scansDeep(ownE.queryExecution.executedPlan)
                    .filter(_.relation.location.rootPaths
                      .exists(_.toString.contains(dir)))
                  evid += ((sc.map(_.metrics("numFiles").value).sum,
                    matching, total,
                    sc.nonEmpty && sc.forall(_.partitionFilters.nonEmpty)))
                  pendEv = None
                }
                lbl("state:append")
                // write width = session parallelism, not the 8-task
                // batch-loop conf: one file per touched pb= dir either
                // way, and the creates parallelize across cores (r17)
                ownE.withColumn("pb", pmod(hash(col("ek")), lit(B)))
                  .repartition(s.sparkContext.defaultParallelism,
                    col("pb"))
                  .write.mode("append").partitionBy("pb")
                  .parquet(curRoot)
                ownE.unpersist()
                // the CADENCE: every C batches, fold the accumulated
                // appends (min-merge, associative) into a fresh
                // generation — probe cost resets to one file per bucket.
                // LSM-honest (q327's r16 fold shape): only buckets
                // holding MORE than one run re-merge; single-run
                // buckets carry over by filesystem rename — each file
                // already holds one row per ek (a batch's ownE or a
                // prior fold output), so a lone run needs no merge
                if (nBatches.get() % C == 0) {
                  lbl("fold")
                  val nxt = s"$tmp/state_v${nBatches.get()}"
                  val dirs = Option(new java.io.File(curRoot)
                    .listFiles()).getOrElse(Array.empty[java.io.File])
                    .filter(f => f.isDirectory &&
                      f.getName.startsWith("pb="))
                  val multi = dirs.filter(dd => Option(dd.listFiles())
                    .getOrElse(Array.empty[java.io.File])
                    .count(_.getName.endsWith(".parquet")) > 1)
                  val touched = multi
                    .map(_.getName.stripPrefix("pb=").toInt).toSeq
                  if (touched.nonEmpty)
                    s.read.parquet(curRoot)
                      .where(col("pb").isin(touched: _*))
                      .groupBy("pb", "ek")
                      .agg(min("owner").as("owner"))
                      .repartition(s.sparkContext.defaultParallelism,
                        col("pb"))
                      .write.partitionBy("pb").parquet(nxt)
                  else java.nio.file.Files
                    .createDirectories(java.nio.file.Paths.get(nxt))
                  val multiSet = multi.map(_.getName).toSet
                  dirs.filter(dd => !multiSet.contains(dd.getName))
                    .foreach { f =>
                      java.nio.file.Files.move(f.toPath,
                        java.nio.file.Paths.get(nxt, f.getName))
                    }
                  curRoot = nxt
                  compactions.incrementAndGet()
                }
                feat.unpersist()
                }
                lbl(null)
              }
              ()
            }
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        val evs = evid.toSeq
        Console.err.println(s"Q342_CADENCE batches=${nBatches.get()} " +
          s"compactions=${compactions.get()} maxFpb=${maxFpb.get()} " +
          evs.map { case (a, b, c, p) =>
            s"scanned=$a matching=$b total=$c pf=$p" }.mkString(" | "))
        def readOr(path: String, ddl: String): DataFrame =
          if (new java.io.File(path).exists())
            s.read.schema(StructType.fromDDL(ddl)).parquet(path)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType.fromDDL(ddl))
        readOr(outDir, "doc_id BIGINT, L BIGINT")
          .selectExpr("'doc' AS kind", "CAST(doc_id AS STRING) AS key",
            "1L AS n", "L AS v")
          .unionByName(Seq(
            ("stream", "multi_batch", 1L,
              if (nBatches.get() >= 8) 1L else 0L),
            ("stream", "ascending_arrival", 1L,
              if (monoOk.get() && nBatches.get() > 0) 1L else 0L),
            ("prune", "pf_present", 1L,
              if (evs.nonEmpty && evs.forall(_._4)) 1L else 0L),
            ("prune", "scanned_eq_matching", 1L,
              if (evs.nonEmpty &&
                evs.forall(e => e._1 == e._2)) 1L else 0L),
            ("prune", "scanned_lt_total", 1L,
              if (evs.nonEmpty &&
                evs.forall(e => e._1 < e._3)) 1L else 0L),
            ("compact", "cadence_ge_3", 1L,
              if (compactions.get() >= 3L) 1L else 0L),
            ("compact", "probe_bounded_by_cadence", 1L,
              if (maxFpb.get() >= 1L && maxFpb.get() <= C) 1L else 0L),
            ("compact", "bound_nonvacuous", 1L,
              if (nBatches.get() - 1 > C) 1L else 0L))
            .toDF("kind", "key", "n", "v"))
      },
      Some("""WITH s AS (SELECT doc_id, md5(text) AS ek,
              len(text) AS L FROM documents),
            own AS (SELECT ek, min(doc_id) AS own FROM s GROUP BY 1)
            SELECT 'doc' AS kind, CAST(s.doc_id AS VARCHAR) AS key,
              CAST(1 AS BIGINT) AS n, CAST(L AS BIGINT) AS v
            FROM s JOIN own USING (ek) WHERE s.doc_id = own.own
            UNION ALL SELECT 'stream', 'multi_batch', 1, 1
            UNION ALL SELECT 'stream', 'ascending_arrival', 1, 1
            UNION ALL SELECT 'prune', 'pf_present', 1, 1
            UNION ALL SELECT 'prune', 'scanned_eq_matching', 1, 1
            UNION ALL SELECT 'prune', 'scanned_lt_total', 1, 1
            UNION ALL SELECT 'compact', 'cadence_ge_3', 1, 1
            UNION ALL SELECT 'compact', 'probe_bounded_by_cadence', 1, 1
            UNION ALL SELECT 'compact', 'bound_nonvacuous', 1, 1"""),
      doc = "steady-state compaction cadence for the bucketed ingest " +
        "state: min-merge fold every C=2 micro-batches under " +
        "indefinite ingest (bulk + 7 increments); gated bound — max " +
        "files per probed bucket never exceeds C at any of the seven " +
        "probes, vs nBatches-1 uncompacted; survivors equal batch " +
        "exact dedup")
  )
}
