package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Graft, Q, Tables}

/** Nearest-neighbor search over the embedding column: brute-force cosine
  * top-k as the exactness baseline; IVF cell probes, random-hyperplane
  * LSH and k-means as the coarse scale paths; and the product-quantization
  * family (flat ADC q266, scaled K q331, shortlist re-rank q335, both
  * q339 and its recall floor q341, IVF+PQ q286, OPQ permutation q343),
  * each composed from the one pipeline in [[Pq]], which also owns and
  * releases the model frames a lane persists. q336/q338 maintain and
  * retract an IVF index built from a frozen coarse quantizer. The query
  * set is always the broadcast side and candidates stream, the shape that
  * survives a 100 TB corpus.
  *
  * Cosine lanes fold dot products sequentially in doubles (the identical
  * IEEE-754 result in Spark and DuckDB); the quantizer lanes run on
  * floor(x·10^6) int64 coordinates. Either way ranks are deterministic
  * across engines.
  */
object SimilarityQueries {

  // Norms and dot products run through the native codegen'd
  // [[graft.plans.Vec]] expression (fused loop, no per-row intermediate
  // arrays); its accumulation order is the identical left-to-right
  // sequential fold the DuckDB oracle computes, so similarity values
  // stay bit-identical.
  private def vectors(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(x as double)) as v")
      .withColumn("nrm", sqrt(graft.plans.Vec.dot(col("v"), col("v"))))

  private val duckVecs =
    """e AS (SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       n AS (SELECT vec_id, label, v,
         sqrt(list_reduce([0.0::DOUBLE] || list_transform(v, x -> x * x),
           (a, x) -> a + x)) AS nrm FROM e)"""

  private val duckDot =
    """list_reduce([0.0::DOUBLE] ||
         list_transform(range(1, len(q.qv) + 1),
           i -> list_extract(q.qv, i) * list_extract(n.v, i)),
         (a, z) -> a + z)"""

  private val sparkSim = graft.plans.Vec.dot(col("qv"), col("v"))

  val all: Seq[Q] = Seq(

    // Brute-force cosine top-k: exact kNN baseline, queries broadcast.
    Q("q42_knn_brute",
      (s, d) => {
        val n = vectors(s, d)
        val q = n.filter(col("vec_id") < 8)
          .selectExpr("vec_id as qid", "v as qv", "nrm as qnrm")
        val w = Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id").asc)
        n.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("sim", sparkSim / (col("qnrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id").as("cid"), col("rank"),
            round(col("sim"), 6).as("sim"))
      },
      Some(s"""WITH $duckVecs,
            q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
                  FROM n WHERE vec_id < 8),
            sc AS (SELECT q.qid, n.vec_id AS cid,
                $duckDot / (q.qnrm * n.nrm) AS sim
              FROM q JOIN n ON n.vec_id != q.qid),
            r AS (SELECT qid, cid, sim, row_number() OVER
                (PARTITION BY qid ORDER BY sim DESC, cid) AS rank FROM sc)
            SELECT qid, cid, rank, round(sim, 6) AS sim
            FROM r WHERE rank <= 5"""),
      doc = "brute-force cosine top-k (exact kNN baseline)"),

    // IVF-style cell probe: candidates restricted to the query's cell
    // (label = coarse centroid assignment), top-3 within the cell.
    Q("q43_knn_ivf",
      (s, d) => {
        val n = vectors(s, d)
        val q = n.filter(col("vec_id") < 20)
          .selectExpr("vec_id as qid", "label as qlabel", "v as qv",
            "nrm as qnrm")
        val w = Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id").asc)
        n.join(broadcast(q),
            col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
          .withColumn("sim", sparkSim / (col("qnrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("qlabel").as("cell"),
            col("vec_id").as("cid"), col("rank"),
            round(col("sim"), 6).as("sim"))
      },
      Some(s"""WITH $duckVecs,
            q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
                nrm AS qnrm FROM n WHERE vec_id < 20),
            sc AS (SELECT q.qid, q.qlabel AS cell, n.vec_id AS cid,
                $duckDot / (q.qnrm * n.nrm) AS sim
              FROM q JOIN n ON n.label = q.qlabel AND n.vec_id != q.qid),
            r AS (SELECT qid, cell, cid, sim, row_number() OVER
                (PARTITION BY qid ORDER BY sim DESC, cid) AS rank FROM sc)
            SELECT qid, cell, cid, rank, round(sim, 6) AS sim
            FROM r WHERE rank <= 3"""),
      doc = "IVF cell-probe ANN (bucketed scale path)"),

    // Random-hyperplane LSH: 12-bit signatures; bucket statistics and the
    // candidate-pair bound the buckets induce.
    Q("q44_lsh_buckets",
      (s, d) => {
        def proj(j: Int) =
          s"""aggregate(transform(sequence(1, 64),
              i -> (cast((i * 31 + $j * 17) % 7 as double) - 3.0)
                   * element_at(v, i)), 0D, (a, x) -> a + x)"""
        val sig = (0 until 12).map(j =>
          when(expr(proj(j)) > 0, 1L << j).otherwise(0L)).reduce(_ + _)
        vectors(s, d)
          .select(sig.as("sig"))
          .groupBy("sig").agg(count(lit(1)).as("c"))
          .groupBy().agg(
            sum("c").as("n_vecs"),
            count(lit(1)).as("n_buckets"),
            sum(expr("c * (c - 1) / 2")).cast("long").as("n_cand_pairs"))
      },
      Some({
        def proj(j: Int) =
          s"""list_reduce([0.0::DOUBLE] || list_transform(range(1, 65),
              i -> (((i * 31 + $j * 17) % 7)::DOUBLE - 3.0)
                   * list_extract(v, i)), (a, x) -> a + x)"""
        val sig = (0 until 12).map(j =>
          s"(CASE WHEN ${proj(j)} > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT
              list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            sigs AS (SELECT $sig AS sig FROM e),
            cl AS (SELECT sig, count(*) AS c FROM sigs GROUP BY sig)
            SELECT CAST(sum(c) AS BIGINT) AS n_vecs,
              count(*) AS n_buckets,
              CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_cand_pairs
            FROM cl"""
      }),
      doc = "random-hyperplane LSH signature bucketing"),

    // SemDeDup-shaped semantic dedup: coarse k-means-style assignment to
    // broadcast centroids (one deterministic step; ties -> lowest
    // centroid id), then near-dup pruning PAIRWISE WITHIN EACH CLUSTER
    // only — the property that makes semantic dedup tractable at corpus
    // scale: candidate pairs are cluster-local, never all-pairs. Greedy
    // lowest-id-wins drop like the shingle keep-list (q72).
    Q("q116_semantic_dedup",
      (s, d) => {
        val n = vectors(s, d)
        // k ~ sqrt(N) coarse clusters keeps cluster-local pair counts
        // (sum of c_i^2 / 2) bounded — the SemDeDup scaling knob
        val cents = n.filter(col("vec_id") < 32)
          .selectExpr("vec_id as cid", "v as qv", "nrm as qnrm")
        val w = Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("cid").asc)
        // argmax runs over slim (vec_id, cid, sim) rows — the 64-double
        // vectors are dropped BEFORE the window shuffle and joined back
        // afterwards (vec_id-keyed), so the rank exchange moves 24 bytes
        // per candidate, not 500. The result is materialized once: the
        // cluster-local self-join below reads it on BOTH sides.
        val asg = n.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            (sparkSim / (col("qnrm") * col("nrm"))).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("vec_id", "cid")
        val assigned = n.select("vec_id", "v", "nrm")
          .join(asg, Seq("vec_id"))
          .persist()
        assigned.count()
        val drops = assigned.as("x").join(assigned.as("y"),
            col("x.cid") === col("y.cid") &&
              col("x.vec_id") < col("y.vec_id"))
          .withColumn("psim",
            graft.plans.Vec.dot(col("x.v"), col("y.v")) /
              (col("x.nrm") * col("y.nrm")))
          .filter(col("psim") >= 0.35)
          .select(col("y.vec_id").as("vec_id")).distinct()
        Graft.collectLocal(assigned
          .join(drops.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .groupBy("cid")
          .agg(count(lit(1)).as("n_members"),
            sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
          .withColumn("n_kept", col("n_members") - col("n_dropped")))(
          assigned.unpersist())
      },
      Some(s"""WITH $duckVecs,
            cents AS (SELECT vec_id AS cid, v AS qv, nrm AS qn
              FROM n WHERE vec_id < 32),
            sims AS (SELECT n.vec_id, q.cid,
                $duckDot / (n.nrm * q.qn) AS sim
              FROM n, cents q),
            asg AS (SELECT vec_id, cid, row_number() OVER
                (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
              FROM sims),
            a AS (SELECT s.vec_id, s.cid, n.v, n.nrm
              FROM asg s JOIN n USING (vec_id) WHERE s.rn = 1),
            drops AS (SELECT DISTINCT y.vec_id
              FROM a x JOIN a y
                ON x.cid = y.cid AND x.vec_id < y.vec_id
              WHERE list_reduce([0.0::DOUBLE] ||
                  list_transform(range(1, len(x.v) + 1),
                    i -> list_extract(x.v, i) * list_extract(y.v, i)),
                  (a, z) -> a + z) / (x.nrm * y.nrm) >= 0.35)
            SELECT cid, count(*) AS n_members,
              CAST(sum(CASE WHEN a.vec_id IN (SELECT vec_id FROM drops)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              CAST(count(*) - sum(CASE WHEN a.vec_id IN
                (SELECT vec_id FROM drops) THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept
            FROM a GROUP BY cid"""),
      doc = "semantic dedup: centroid assignment + cluster-local pruning"),

    // Embedding-space decontamination: the semantic sibling of the
    // n-gram gate (q104) — drop any TRAINING vector whose cosine against
    // ANY held-out eval vector clears the threshold. Eval set broadcast,
    // candidates stream, products through the codegen'd vec_dot: at
    // 100 TB this is one scan of the training corpus with a
    // broadcast-nested-loop semi probe — never an all-pairs join.
    Q("q143_embed_decontam",
      (s, d) => {
        val n = vectors(s, d)
        val eval_ = n.filter(col("vec_id") < 32)
          .selectExpr("vec_id as eid", "v as qv", "nrm as qnrm")
        val train = n.filter(col("vec_id") >= 32)
        val contaminated = train.join(broadcast(eval_),
            sparkSim / (col("qnrm") * col("nrm")) >= 0.35, "left_semi")
          .select(col("vec_id")).withColumn("hit", lit(1L))
        train.join(contaminated, Seq("vec_id"), "left")
          .groupBy("label")
          .agg(count(lit(1)).as("n_train"),
            sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
            (count(lit(1)) - sum(coalesce(col("hit"), lit(0L))))
              .as("n_clean"))
      },
      Some(s"""WITH $duckVecs,
            q AS (SELECT vec_id AS eid, v AS qv, nrm AS qnrm FROM n
                  WHERE vec_id < 32),
            t AS (SELECT * FROM n WHERE vec_id >= 32),
            hits AS (SELECT DISTINCT n.vec_id
              FROM t n JOIN q ON $duckDot / (q.qnrm * n.nrm) >= 0.35)
            SELECT label, count(*) AS n_train,
              CAST(sum(CASE WHEN t.vec_id IN (SELECT vec_id FROM hits)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
              CAST(count(*) - sum(CASE WHEN t.vec_id IN
                (SELECT vec_id FROM hits) THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clean
            FROM t GROUP BY label"""),
      doc = "embedding decontamination: broadcast eval set, semi-join drop"),

    // Int8 scalar quantization for ANN: q_i = floor(x_i * 200) fits
    // int8 for this corpus's value range and makes every dot product
    // EXACT integer arithmetic — products ≤ 127² over 64 dims stay far
    // inside double's 2^53 exact-integer range, so the same codegen'd
    // Vec.dot fold computes it bit-perfectly and both engines agree to
    // the last unit. At 100 TB this is the memory play: 4× smaller
    // vectors through every shuffle/broadcast, with ranks that a float
    // re-rank (q42's path) can refine. Queries broadcast, candidates
    // stream — same scan shape as the exact baseline.
    Q("q170_knn_int8",
      (s, d) => {
        val n = Tables.embeddings(s, d).selectExpr("vec_id",
          "transform(embedding, x -> cast(floor(cast(x as double) * 200) as double)) as v")
        val q = n.filter(col("vec_id") < 8)
          .selectExpr("vec_id as qid", "v as qv")
        val w = Window.partitionBy("qid")
          .orderBy(col("qscore").desc, col("vec_id").asc)
        n.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("qscore",
            graft.plans.Vec.dot(col("qv"), col("v")).cast("long"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id").as("cid"), col("rank"),
            col("qscore"))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding, x -> floor(x::DOUBLE * 200)) AS v
              FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id < 8),
            sc AS (SELECT q.qid, n.vec_id AS cid,
                CAST(list_reduce([0.0::DOUBLE] ||
                  list_transform(range(1, len(q.qv) + 1),
                    i -> list_extract(q.qv, i) * list_extract(n.v, i)),
                  (a, z) -> a + z) AS BIGINT) AS qscore
              FROM q JOIN n ON n.vec_id != q.qid),
            r AS (SELECT qid, cid, qscore, row_number() OVER
                (PARTITION BY qid ORDER BY qscore DESC, cid) AS rank
              FROM sc)
            SELECT qid, cid, rank, qscore FROM r WHERE rank <= 5"""),
      doc = "int8 scalar-quantized ANN: exact integer dot, 4x memory cut"),

    // Lloyd's k-means over the embedding column — the mixture-balance
    // clustering stage (SemDeDup/DSIR pipelines cluster the corpus
    // before sampling). Determinism across engines comes from EXACT
    // integer arithmetic end-to-end: components quantize to 1e6-scaled
    // BIGINTs, distances are integer squared-L2, and the centroid
    // update is integer FLOOR division computed as
    // (s - ((s % c) + c) % c) / c — identical on both engines, where a
    // naive s DIV c would diverge on negative sums (Spark truncates
    // toward zero). Two assignment rounds with one centroid update
    // between; k=8 centroids broadcast each round (k x 64 longs — the
    // only state that moves), members never collect. At 100 TB each
    // round is one scan + one k-row-group aggregate: the canonical
    // distributed-Lloyd shape.
    Q("q245_kmeans_embeddings",
      (s, d) => {
        val n = Pq.vectors(s, d)
        // ROW-LOCAL assign (optimization r17, the q331 shape): the
        // K centroids collapse to a ONE-ROW broadcast array and the
        // (dist asc, cid asc) argmin runs inside each vector's row —
        // no corpus×K intermediate rows, no per-assign exchange;
        // identical selection to the former crossJoin + struct-min.
        // r18: the argmin is the native graft_argmin_l2 kernel — one
        // codegen'd node instead of the interpreted ~200-node HOF tree
        // whose per-run parse/analyze/first-eval cost the cold bench
        // billed (VERDICT r17 #1b); selection identical, PqKernelsSpec.
        def cArr(cents: org.apache.spark.sql.DataFrame) =
          cents.groupBy()
            .agg(collect_list(struct(col("cid"), col("cv"))).as("cb"))
        val bestExpr = "graft_argmin_l2(v, cb)"
        def assign(cents: org.apache.spark.sql.DataFrame) =
          n.crossJoin(broadcast(cArr(cents)))
            .selectExpr("vec_id", "v", s"($bestExpr) AS mn")
            .selectExpr("vec_id", "v", "mn.bc AS cid", "mn.bd AS dist")
        def update(asg: org.apache.spark.sql.DataFrame) =
          Pq.mean(asg.selectExpr("cid", "posexplode(v) AS (pos, x)"), "cid")
            .groupBy("cid")
            .agg(expr("transform(array_sort(collect_list(" +
              "struct(pos, cm))), t -> t.cm) AS cv"))
        val c0 = n.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS cid", "v AS cv")
        // every intermediate is consumed exactly once (c1 feeds one
        // broadcast), so no persist is needed — contrast q85/q116
        // where reuse across legs makes persist mandatory
        assign(update(assign(c0)))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_members"), sum("dist").as("sse"))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id, generate_subscripts(v, 1) AS pos,
              unnest(v) AS x FROM n),
            c0 AS (SELECT vec_id AS cid, pos, x AS m FROM long
              WHERE vec_id < 8),
            d1 AS (SELECT l.vec_id, c.cid,
                CAST(sum((l.x - c.m) * (l.x - c.m)) AS BIGINT) AS dist
              FROM long l JOIN c0 c USING (pos) GROUP BY 1, 2),
            a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS m
              FROM a1 a JOIN long l USING (vec_id) GROUP BY 1, 2),
            d2 AS (SELECT l.vec_id, c.cid,
                CAST(sum((l.x - c.m) * (l.x - c.m)) AS BIGINT) AS dist
              FROM long l JOIN c1 c USING (pos) GROUP BY 1, 2),
            a2 AS (SELECT vec_id, cid, dist FROM (SELECT vec_id, cid,
                dist, row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1)
            SELECT cid, count(*) AS n_members,
              CAST(sum(dist) AS BIGINT) AS sse
            FROM a2 GROUP BY cid"""),
      doc = "distributed Lloyd k-means: exact integer distances/updates"),

    // Recall@5 of the IVF cell probe against the exact brute-force
    // baseline — the standard ANN quality metric, computed in-engine:
    // the same query set runs both paths (q42's exact top-5, q43's
    // cell-restricted top-5) and the join of the two result sets
    // yields per-query hit counts. Both rankings order by the
    // bit-identical sequential-fold cosine, so recall is deterministic.
    // Only integers leave the query (hit counts, rank sums) — the
    // doubles stay internal. At scale both legs broadcast the query
    // set and stream the candidates; the metric join is per-query
    // top-k rows only.
    Q("q246_ann_recall",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val n = vectors(s, d)
        // the query set is CLIENT input in a real ANN service, not a
        // corpus scan — materialize the 8 rows as driver literals
        // (model-sized by construction) so the reconciliation legs'
        // five broadcasts stop re-reading the parquet (PlanAudit
        // repeated-scan: embeddings.parquet ×7 → 2 corpus legs)
        val q = n.filter(col("vec_id") < 8)
          .selectExpr("vec_id as qid", "label as qlabel", "v as qv",
            "nrm as qnrm")
          .as[(Long, Int, Seq[Double], Double)].collect().toSeq
          .toDF("qid", "qlabel", "qv", "qnrm")
        val w = Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id").asc)
        val exact = n.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("sim", sparkSim / (col("qnrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id").as("cid"), col("rank"))
        val ivf = n.join(broadcast(q),
            col("label") === col("qlabel") &&
              col("vec_id") =!= col("qid"))
          .withColumn("sim", sparkSim / (col("qnrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id").as("cid"))
        // every frame below is ≤ k·|Q| rows (5×8) AT ANY CORPUS SCALE —
        // the query set is fixed — so the reconciliation joins are
        // broadcast by construction, not by runtime stats
        val hits = exact.join(broadcast(ivf), Seq("qid", "cid"))
          .groupBy("qid").agg(count(lit(1)).as("h"),
            sum("rank").as("rs"))
        val nIvf = ivf.groupBy("qid").agg(count(lit(1)).as("ni"))
        q.select("qid")
          .join(broadcast(nIvf), Seq("qid"), "left")
          .join(broadcast(hits), Seq("qid"), "left")
          .selectExpr("qid",
            "coalesce(ni, CAST(0 AS BIGINT)) AS n_ivf",
            "coalesce(h, CAST(0 AS BIGINT)) AS n_hits",
            "coalesce(rs, CAST(0 AS BIGINT)) AS hit_rank_sum")
      },
      Some(s"""WITH $duckVecs,
            q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
                nrm AS qnrm FROM n WHERE vec_id < 8),
            esc AS (SELECT q.qid, n.vec_id AS cid,
                $duckDot / (q.qnrm * n.nrm) AS sim
              FROM q JOIN n ON n.vec_id != q.qid),
            exact AS (SELECT qid, cid, rank FROM (SELECT qid, cid,
                row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, cid) AS rank FROM esc)
              WHERE rank <= 5),
            isc AS (SELECT q.qid, n.vec_id AS cid,
                $duckDot / (q.qnrm * n.nrm) AS sim
              FROM q JOIN n ON n.label = q.qlabel
                AND n.vec_id != q.qid),
            ivf AS (SELECT qid, cid FROM (SELECT qid, cid,
                row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, cid) AS rank FROM isc)
              WHERE rank <= 5),
            hits AS (SELECT e.qid, count(*) AS h,
                CAST(sum(e.rank) AS BIGINT) AS rs
              FROM exact e JOIN ivf i USING (qid, cid) GROUP BY 1),
            ni AS (SELECT qid, count(*) AS ni FROM ivf GROUP BY 1)
            SELECT q.qid, coalesce(ni.ni, 0) AS n_ivf,
              coalesce(hits.h, 0) AS n_hits,
              coalesce(hits.rs, 0) AS hit_rank_sum
            FROM q LEFT JOIN ni USING (qid)
            LEFT JOIN hits ON hits.qid = q.qid"""),
      doc = "ANN recall@5: IVF cell probe scored against exact kNN " +
        "(the driver's synthetic labels are similarity-uncorrelated, " +
        "so measured recall ~0.1 — the metric exposing a bad coarse " +
        "quantizer is exactly its job)"),

    // Product quantization + ADC — the memory-bound ANN scale path
    // (Jégou et al., TPAMI 2011): the 64-dim vectors split into M=4
    // subspaces of 16 dims, each trained with one integer-exact Lloyd
    // round (q245's arithmetic: scaled-int coordinates, floor-div
    // means, cid-asc tie-breaks) to K=8 centroids; every vector stores
    // only its 4 codes. Queries score the WHOLE corpus through a
    // per-query lookup table (query-to-centroid partial distances —
    // the Asymmetric Distance Computation), never touching raw data
    // vectors: at 100 TB the codes table is ~1/128th the corpus and
    // the LUT join is a broadcast of (queries x M x K) rows. The gate
    // mirrors the entire pipeline in DuckDB (all integer arithmetic,
    // deterministic ties) and scores ADC top-5 against exact top-5.
    Q("q266_pq_adc",
      (s, d) => {
        val pq = new Pq(s, d)
        val (codes, q, ranked) = pq.flat(scaled = false, 97)
        pq.answer(pq.recall(q, ranked)
          .unionByName(pq.codebookRows(codes)))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            lm AS (SELECT vec_id, pos, pos // 16 AS m, x FROM long),
            c0 AS (SELECT m, vec_id AS cid, pos, x AS cm FROM lm
              WHERE vec_id < 8),
            d1 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            a1 AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM a1 a JOIN lm l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            d2 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m,
                cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, m, pos, x AS qx FROM lm
              WHERE vec_id % 97 = 0),
            lut AS (SELECT q.qid, q.m, c.cid,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS pd
              FROM qs q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist
              FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM lm l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            hits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN adctop a ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1)
            SELECT 'recall' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n,
              CAST(coalesce(h.h, 0) AS BIGINT) AS v
            FROM (SELECT DISTINCT qid FROM qs) q
            LEFT JOIN hits h ON h.qid = q.qid
            UNION ALL
            SELECT 'codebook', CAST(m AS VARCHAR),
              count(DISTINCT cid), count(*)
            FROM codes GROUP BY 2"""),
      doc = "product quantization + ADC: coded corpus scan, integer" +
        "-exact, recall@5 vs exact"),

    // IVF+PQ composed — the full FAISS-IVFPQ shape (Jégou et al.,
    // TPAMI 2011 §V): a COARSE quantizer splits the corpus into cells
    // (4 centroids over the full 64-dim vectors, one integer-exact
    // Lloyd round seeded from vec_id < 4), every vector stores its
    // cell plus the PQ codes of its RESIDUAL (x − coarse centroid;
    // M=4 × 16-dim subspaces, K=8, one Lloyd round on residuals seeded
    // from vec_id < 8 — ONE codebook shared across cells, the standard
    // IVFPQ layout), and each query probes only its nprobe=2 nearest
    // cells, scanning those cells' codes through a per-(query, cell)
    // residual LUT. At 100 TB the scan is nprobe/ncells of the codes
    // table (itself ~1/128th the corpus) and everything else —
    // coarse centroids, PQ codebook, LUTs — is broadcast-sized.
    // All arithmetic is scaled-integer with cid-asc tie-breaks, so
    // DuckDB mirrors the ENTIRE pipeline bit-for-bit; recall@5 is
    // scored against exact top-5 over the full corpus, charging
    // cell misses to the coarse quantizer like q246 does.
    Q("q286_ivf_pq",
      (s, d) => {
        val pq = new Pq(s, d)
        val n = pq.n
        // ---- coarse quantizer: 4 cells over full vectors ----------
        val cc0 = pq.long.filter(col("vec_id") < 4)
          .selectExpr("vec_id AS cell", "pos", "x AS cm")
        // ROW-LOCAL coarse assign (optimization r17, the q331 shape):
        // the 4-cell codebook collapses to a ONE-ROW broadcast array
        // and the (dist asc, cell asc) argmin runs inside each
        // vector's row — identical selection to the former join +
        // struct-min agg. r18: native graft_argmin_l2 kernel instead
        // of the interpreted HOF tree (VERDICT r17 #1b/#5); selection
        // identical, PqKernelsSpec.
        def ccArr(c: org.apache.spark.sql.DataFrame) =
          c.groupBy("cell")
            .agg(expr("transform(sort_array(collect_list(" +
              "struct(pos, cm))), e -> e.cm)").as("cms"))
            .groupBy()
            .agg(collect_list(struct(col("cell"), col("cms")))
              .as("ccb"))
        val cellExpr = "graft_argmin_l2(v, ccb).bc"
        val cc1 = pq.keep(Pq.mean(n.crossJoin(broadcast(ccArr(cc0)))
          .selectExpr("v", s"($cellExpr) AS cell")
          .selectExpr("cell", "posexplode(v) AS (pos, x)"), "cell"))
        val cells = n.crossJoin(broadcast(ccArr(cc1)))
          .selectExpr("vec_id", s"($cellExpr) AS cell")
        // ---- residual vector IN-ROW (vs the assigned cell's
        // centroid) + PQ codebook on residuals ----------------------
        val rvDf = n.crossJoin(broadcast(ccArr(cc1)))
          .selectExpr("vec_id", "v", "ccb", s"($cellExpr) AS cell")
          .selectExpr("vec_id", "cell",
            "zip_with(v, element_at(filter(ccb, " +
              "e -> e.cell = cell), 1).cms, (a, b) -> a - b) AS rv")
        val p0 = rvDf.filter(col("vec_id") < 8)
          .selectExpr("vec_id AS cid", "posexplode(rv) AS (pos, r)")
          .selectExpr(s"pos DIV ${Pq.sub} AS m", "cid", "pos", "r AS cm")
        val p1 = pq.train(rvDf, "rv", p0)
        val codes = pq.assign(rvDf, "rv", p1, "cell")
        // ---- queries: nprobe=2 cells, residual LUT, in-cell ADC ---
        val q = pq.queries(pq.natural, 89)
        val wProbe = Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("cell").asc)
        val probes = q.join(broadcast(cc1), Seq("pos"))
          .groupBy("qid", "cell")
          .agg(sum(expr("(qx - cm) * (qx - cm)")).as("dist"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2).select("qid", "cell")
        val qRes = q.join(broadcast(probes), Seq("qid"))
          .join(broadcast(cc1), Seq("cell", "pos"))
          .selectExpr("qid", "cell", "m", "pos", "qx - cm AS qx")
        val cellRows = cells.groupBy("cell")
          .agg(count(lit(1)).as("v"))
          .selectExpr("'cell' AS kind", "CAST(cell AS STRING) AS key",
            "CAST(4 AS BIGINT) AS n", "v")
        pq.answer(pq.recall(q, pq.adc(codes, pq.lut(qRes, p1, "cell"), "cell"))
          .unionByName(cellRows))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            cc0 AS (SELECT vec_id AS cell, pos, x AS cm FROM long
              WHERE vec_id < 4),
            cd1 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM long l JOIN cc0 c ON l.pos = c.pos GROUP BY 1, 2),
            ca1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd1)
              WHERE rn = 1),
            cc1 AS (SELECT a.cell, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM ca1 a JOIN long l ON l.vec_id = a.vec_id
              GROUP BY 1, 2),
            cd2 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM long l JOIN cc1 c ON l.pos = c.pos GROUP BY 1, 2),
            cells AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd2)
              WHERE rn = 1),
            res AS (SELECT l.vec_id, s.cell, l.pos, l.pos // 16 AS m,
                l.x - c.cm AS r
              FROM long l JOIN cells s ON s.vec_id = l.vec_id
              JOIN cc1 c ON c.cell = s.cell AND c.pos = l.pos),
            p0 AS (SELECT m, vec_id AS cid, pos, r AS pm FROM res
              WHERE vec_id < 8),
            pd1 AS (SELECT l.vec_id, l.cell, l.m, c.cid,
                CAST(sum((l.r - c.pm) * (l.r - c.pm)) AS BIGINT) AS dist
              FROM res l JOIN p0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3, 4),
            pa1 AS (SELECT vec_id, cell, m, cid FROM (SELECT vec_id,
                cell, m, cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM pd1)
              WHERE rn = 1),
            p1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.r) - ((sum(l.r) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS pm
              FROM pa1 a JOIN res l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            pd2 AS (SELECT l.vec_id, l.cell, l.m, c.cid,
                CAST(sum((l.r - c.pm) * (l.r - c.pm)) AS BIGINT) AS dist
              FROM res l JOIN p1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3, 4),
            codes AS (SELECT vec_id, cell, m, cid FROM (SELECT vec_id,
                cell, m, cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM pd2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, pos, x AS qx FROM long
              WHERE vec_id % 89 = 0),
            qcd AS (SELECT q.qid, c.cell,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS dist
              FROM qs q JOIN cc1 c ON q.pos = c.pos GROUP BY 1, 2),
            probes AS (SELECT qid, cell FROM (SELECT qid, cell,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, cell ASC) AS rn FROM qcd)
              WHERE rn <= 2),
            qres AS (SELECT q.qid, p.cell, q.pos, q.pos // 16 AS m,
                q.qx - c.cm AS qr
              FROM qs q JOIN probes p ON p.qid = q.qid
              JOIN cc1 c ON c.cell = p.cell AND c.pos = q.pos),
            lut AS (SELECT l.qid, l.cell, l.m, c.cid,
                CAST(sum((l.qr - c.pm) * (l.qr - c.pm)) AS BIGINT)
                  AS pd
              FROM qres l JOIN p1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3, 4),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist
              FROM codes k JOIN lut l ON l.cell = k.cell
                AND l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM long l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            hits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN adctop a ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1)
            SELECT 'recall' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n,
              CAST(coalesce(h.h, 0) AS BIGINT) AS v
            FROM (SELECT DISTINCT qid FROM qs) q
            LEFT JOIN hits h ON h.qid = q.qid
            UNION ALL
            SELECT 'cell', CAST(cell AS VARCHAR), CAST(4 AS BIGINT),
              count(*)
            FROM cells GROUP BY 2"""),
      doc = "IVF+PQ composed ANN: coarse cells, residual product " +
        "codes, nprobe=2 in-cell ADC, integer-exact, recall@5 vs exact"),

    // Johnson–Lindenstrauss random projection 64→16 with a measured
    // distance-preservation audit — the dimensionality-reduction step
    // a 100 TB embedding corpus runs before clustering/ANN to cut the
    // shuffle volume 4×. The ±1 sign matrix derives from md5 bits
    // (computed ONCE on the driver, embedded as literals in both
    // dialects), projections and squared distances are the repo's
    // sequential-double-fold idiom (bit-identical engines), and the
    // audited quantity E[‖ya−yb‖²] = k·‖a−b‖² lands as a per-band
    // histogram of r = d²p/(k·d²o) over the deterministic (v, v+1)
    // pair set plus a scaled-integer distortion mass (float SUMS never
    // cross the oracle boundary — only floors of identical doubles).
    Q("q310_jl_projection",
      (s, d) => {
        val dim = 64; val k = 16
        val md = java.security.MessageDigest.getInstance("MD5")
        def sgn(i: Int, j: Int): Double = {
          val hex = md.digest(s"r:$i:$j".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          if (java.lang.Long.parseLong(hex.substring(0, 15), 16)
            % 2 == 0) 1.0 else -1.0
        }
        val rows = (0 until k).map(j =>
          (0 until dim).map(i => s"${sgn(i, j)}D"))
        val sparkSigns = rows.map(r =>
          s"array(${r.mkString(",")})").mkString("array(", ",", ")")
        val proj = s"""transform(sequence(1, $k),
          j -> aggregate(zip_with(v, element_at($sparkSigns, j),
            (x, sg) -> x * sg), 0D, (a, z) -> a + z))"""
        val e = vectors(s, d).selectExpr("vec_id", "v",
          s"$proj as y")
        val a = e.as("a"); val b = e.as("b")
        val paired = a.join(b,
            col("a.vec_id") + 1 === col("b.vec_id") &&
              expr("a.vec_id % 2 = 0"))
          .selectExpr(
            """aggregate(zip_with(a.v, b.v, (x, yv) -> (x - yv) * (x - yv)),
               0D, (acc, z) -> acc + z) as d2o""",
            """aggregate(zip_with(a.y, b.y, (x, yv) -> (x - yv) * (x - yv)),
               0D, (acc, z) -> acc + z) as d2p""")
          .selectExpr(s"CASE WHEN d2o = 0D THEN -1D ELSE d2p / ($k * d2o) END as r")
        paired.selectExpr(
            """CASE WHEN r < 0D THEN 'degenerate'
               WHEN r < 0.5D THEN 'lt_050' WHEN r < 0.8D THEN 'lt_080'
               WHEN r < 1.25D THEN 'near_1' WHEN r < 2D THEN 'lt_200'
               ELSE 'ge_200' END as band""",
            "CAST(floor(r * 1000000D) AS BIGINT) as rs")
          .groupBy("band")
          .agg(count(lit(1)).as("n_pairs"), sum("rs").as("distortion_mass"))
      },
      Some {
        val dim = 64; val k = 16
        val md = java.security.MessageDigest.getInstance("MD5")
        def sgn(i: Int, j: Int): Double = {
          val hex = md.digest(s"r:$i:$j".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          if (java.lang.Long.parseLong(hex.substring(0, 15), 16)
            % 2 == 0) 1.0 else -1.0
        }
        // UNROLLED projection sums: indexing a 16×64 literal per
        // element re-materializes it (the first form ran minutes in
        // DuckDB); a left-assoc `0 + t1 + t2 + …` chain is the same
        // fold order as Spark's aggregate(zip_with(...), 0D, +)
        def yj(j: Int): String =
          s"(0.0::DOUBLE + ${(0 until dim).map(i =>
            s"v[${i + 1}] * (${sgn(i, j)})").mkString(" + ")})"
        val ylist = (0 until k).map(yj).mkString("[", ",", "]")
        s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
          p AS (SELECT vec_id, v, $ylist AS y FROM e),
          pr AS (SELECT
              list_reduce([0.0::DOUBLE] ||
                list_transform(range(1, len(a.v) + 1),
                  i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])),
                (acc, z) -> acc + z) AS d2o,
              list_reduce([0.0::DOUBLE] ||
                list_transform(range(1, len(a.y) + 1),
                  i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i])),
                (acc, z) -> acc + z) AS d2p
            FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
              AND a.vec_id % 2 = 0),
          rr AS (SELECT CASE WHEN d2o = 0 THEN -1.0
              ELSE d2p / ($k * d2o) END AS r FROM pr)
          SELECT CASE WHEN r < 0 THEN 'degenerate'
              WHEN r < 0.5 THEN 'lt_050' WHEN r < 0.8 THEN 'lt_080'
              WHEN r < 1.25 THEN 'near_1' WHEN r < 2 THEN 'lt_200'
              ELSE 'ge_200' END AS band,
            count(*) AS n_pairs,
            CAST(sum(CAST(floor(r * 1000000) AS BIGINT)) AS BIGINT)
              AS distortion_mass
          FROM rr GROUP BY 1"""
      },
      doc = "Johnson-Lindenstrauss 64->16 sign projection with a " +
        "measured distance-preservation histogram"),

    // k-means|| seeding (Bahmani et al., VLDB 2012) — the seeding
    // k-means++ can't do at scale: ++ is inherently SEQUENTIAL (one
    // center per corpus pass, k passes), while k-means|| oversamples
    // l·d²(x)/φ candidates per round for O(log n)≈R rounds, then
    // reduces the tiny weighted coreset to k centers locally. Exactly
    // the distributed/sequential split this engine wants at 100 TB:
    // the R corpus passes are broadcast-join + map + one tiny agg
    // each; the coreset (≤ 1+R·l points) collects to the driver for
    // the weighted greedy reduction. All arithmetic is the q245
    // recipe — scaled-int coordinates, exact integer distances — and
    // the Bernoulli draw is a deterministic 20-bit hash uniform
    // u(vec_id, round), so the oracle reproduces every round
    // bit-for-bit (selection: u·φ < l·d²·2²⁰ in DECIMAL(38,0), and
    // vec_id is reduced mod a prime BEFORE the Knuth multiply so the
    // hash itself stays BIGINT-safe at any corpus size — DuckDB
    // raises on BIGINT overflow where Spark silently wraps).
    Q("q317_kmeans_parallel_seed",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val l = 10
        val kC = 5
        val n = Tables.embeddings(s, d).selectExpr("vec_id",
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
              "* 1000) AS BIGINT)) AS v")
          .persist() // reused by R rounds + weights; dropped below
        // ROW-LOCAL nearest-center pass (optimization r17, the q331
        // shape): the center set rides as a ONE-ROW broadcast array
        // and min-distance (and, for weights, the (dist asc, cid asc)
        // argmin) computes inside each vector's row — no corpus×K
        // intermediate rows, no per-pass exchange; identical values.
        // r18: native graft_argmin_l2 kernel instead of the
        // interpreted HOF tree (VERDICT r17 #1b) — the kernel's bd IS
        // the min distance; selection identical, PqKernelsSpec.
        def cArr(cents: org.apache.spark.sql.DataFrame) =
          cents.groupBy()
            .agg(collect_list(struct(col("cid"), col("cv"))).as("cb"))
        val dminExpr = "graft_argmin_l2(v, cb).bd"
        var centerIds = Seq(0L)
        val phis = scala.collection.mutable.ArrayBuffer[Long]()
        for (r <- 1 to 3) {
          val cents = n.filter(col("vec_id").isin(centerIds: _*))
            .selectExpr("vec_id AS cid", "v AS cv")
          val dmin = n.crossJoin(broadcast(cArr(cents)))
            .selectExpr("vec_id", s"($dminExpr) AS dmin")
            .persist()
          val phi = dmin.agg(sum("dmin")).head().getLong(0)
          phis += phi
          // Bernoulli(min(1, l·d²/φ)) as u/2²⁰ < l·d²/φ with u a
          // 20-bit hash uniform. The cross-multiplied comparison runs
          // in DECIMAL(38,0) (↔ HUGEINT in the oracle): u·φ ≈ 1e6·4e16
          // overflows LONG at the 100× soak, and a coarser u floors
          // the per-point probability at 1/2^bits — at 1024 grains
          // that floor selected n/1024 points per round (195 at 100×)
          // and the coreset exploded. vec_id is reduced mod the prime
          // 1000003 before the Knuth multiply: the product then tops
          // out near 2.7e15 (BIGINT-safe in BOTH engines; the raw
          // multiply wraps silently in Spark but errors in DuckDB
          // past vec_id ≈ 3.5e9)
          val sel = dmin.filter(expr(
              s"CAST((((vec_id % 1000003) * 2654435761L + $r * 40503L)" +
                s" % 1048576) AS DECIMAL(38,0)) * ${phi}L < " +
                s"CAST(${l}L AS DECIMAL(38,0)) * 1048576 * dmin") &&
              !col("vec_id").isin(centerIds: _*))
            .select("vec_id").as[Long].collect().sorted
          dmin.unpersist()
          centerIds = centerIds ++ sel
        }
        // weights: corpus pass assigning every point to its nearest
        // coreset member (tie: lowest cid) — coreset-sized output
        val cents = n.filter(col("vec_id").isin(centerIds: _*))
          .selectExpr("vec_id AS cid", "v AS cv")
        // in-row (dd asc, cid asc) argmin — the q331 shape; identical
        // selection to the former crossJoin + struct-min agg
        val wts = n.crossJoin(broadcast(cArr(cents)))
          .selectExpr("graft_argmin_l2(v, cb).bc AS cid")
          .groupBy("cid").agg(count(lit(1)).as("wt"))
          .as[(Long, Long)].collect().toMap
        val cvs = n.filter(col("vec_id").isin(centerIds: _*))
          .as[(Long, Seq[Long])].collect().toMap
        n.unpersist()
        // driver-side weighted greedy reduction over the coreset
        def d2(a: Seq[Long], b: Seq[Long]): Long =
          a.iterator.zip(b.iterator)
            .map { case (x, y) => (x - y) * (x - y) }.sum
        var chosen = Seq(centerIds.maxBy(c => (wts.getOrElse(c, 0L), -c)))
        while (chosen.size < kC) {
          val next = centerIds.filterNot(chosen.contains)
            .maxBy { c =>
              val dn = chosen.map(ch => d2(cvs(c), cvs(ch))).min
              (wts.getOrElse(c, 0L) * dn, -c)
            }
          chosen = chosen :+ next
        }
        ((phis.toSeq.zipWithIndex.map { case (p, i) =>
            ("phi", s"r${i + 1}", p)
          } :+ ("coreset", "size", centerIds.size.toLong)) ++
          chosen.sorted.map(c =>
            ("center", c.toString, wts.getOrElse(c, 0L))))
          .toDF("kind", "key", "val")
      },
      Some {
        val (rr, l, kC) = (3, 10, 5)
        val rounds = (1 to rr).map { r =>
          val prev = s"c${r - 1}"
          s"""dm$r AS MATERIALIZED (SELECT vec_id, min(dd) AS dmin
              FROM (SELECT p.vec_id, c.cid,
                CAST(sum((p.x - cl.x) * (p.x - cl.x)) AS BIGINT) AS dd
              FROM lv p JOIN $prev c ON true
              JOIN lv cl ON cl.vec_id = c.cid AND cl.pos = p.pos
              GROUP BY 1, 2) z GROUP BY 1),
            phi$r AS MATERIALIZED (SELECT CAST(sum(dmin) AS BIGINT)
              AS phi FROM dm$r),
            c$r AS MATERIALIZED (SELECT cid FROM $prev
              UNION
              SELECT d_.vec_id AS cid FROM dm$r d_
              WHERE (((d_.vec_id % 1000003) * 2654435761
                    + $r * 40503) % 1048576)
                  ::HUGEINT * (SELECT phi FROM phi$r)
                  < $l::HUGEINT * 1048576 * d_.dmin
                AND d_.vec_id NOT IN (SELECT cid FROM $prev))"""
        }.mkString(",\n            ")
        val greedy = (2 to kC).map { i =>
          s"""p$i AS MATERIALIZED (SELECT w.cid FROM wts w
              WHERE w.cid NOT IN (SELECT cid FROM s${i - 1})
              ORDER BY w.wt * (SELECT min(dd) FROM cd
                WHERE c1 = w.cid AND
                  c2 IN (SELECT cid FROM s${i - 1})) DESC,
                w.cid ASC LIMIT 1),
            s$i AS MATERIALIZED (SELECT cid FROM s${i - 1}
              UNION ALL SELECT cid FROM p$i)"""
        }.mkString(",\n            ")
        s"""WITH n AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS v
              FROM embeddings),
            lv AS MATERIALIZED (SELECT vec_id,
              generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM n),
            c0 AS MATERIALIZED (SELECT 0::BIGINT AS cid),
            $rounds,
            wts AS MATERIALIZED (SELECT cid, count(*) AS wt FROM (
              SELECT vec_id, cid FROM (
                SELECT p.vec_id, c.cid, row_number() OVER (
                  PARTITION BY p.vec_id
                  ORDER BY CAST(sum((p.x - cl.x) * (p.x - cl.x))
                    AS BIGINT) ASC, c.cid ASC) AS rn
                FROM lv p JOIN c$rr c ON true
                JOIN lv cl ON cl.vec_id = c.cid AND cl.pos = p.pos
                GROUP BY p.vec_id, c.cid) z WHERE rn = 1) a
              GROUP BY 1),
            cd AS MATERIALIZED (SELECT a.cid AS c1, b.cid AS c2,
              CAST(sum((la.x - lb.x) * (la.x - lb.x)) AS BIGINT) AS dd
              FROM c$rr a JOIN c$rr b ON a.cid != b.cid
              JOIN lv la ON la.vec_id = a.cid
              JOIN lv lb ON lb.vec_id = b.cid AND lb.pos = la.pos
              GROUP BY 1, 2),
            p1 AS MATERIALIZED (SELECT cid FROM wts
              ORDER BY wt DESC, cid ASC LIMIT 1),
            s1 AS MATERIALIZED (SELECT cid FROM p1),
            $greedy
            SELECT 'phi' AS kind, 'r1' AS key,
              (SELECT phi FROM phi1) AS val
            UNION ALL SELECT 'phi', 'r2', (SELECT phi FROM phi2)
            UNION ALL SELECT 'phi', 'r3', (SELECT phi FROM phi3)
            UNION ALL SELECT 'coreset', 'size',
              (SELECT CAST(count(*) AS BIGINT) FROM c$rr)
            UNION ALL SELECT 'center', CAST(w.cid AS VARCHAR),
              CAST(w.wt AS BIGINT) FROM wts w
              WHERE w.cid IN (SELECT cid FROM s$kC)"""
      },
      doc = "k-means|| seeding (Bahmani): R oversampling corpus " +
        "passes, deterministic hash Bernoulli, weighted coreset " +
        "greedy-reduced driver-side — bit-reproducible in the oracle"),

    // Corpus-scaled-K product quantization (VERDICT r13 #1) — q266's
    // PQ-ADC pipeline with the codebook size DERIVED from corpus
    // cardinality instead of pinned at K=8. The r13 soak measured the
    // fixed-capacity collapse (recall@5 0.248 → 0.0002 at 100× under
    // K=8) and a parameterized-K probe measured the remedy (K∝N
    // restores the 1× baseline: K=128 → 0.234 at 10×, BENCH_NOTES
    // r14); this lane converts that probe into gated behavior. The
    // rule is
    //   K = clamp(N DIV 128, 8, 256)
    // — linear in the corpus until the FAISS-standard 8-bit code
    // ceiling (K=256), past which capacity scaling moves to the coarse
    // quantizer's cell count (q286/q246, already healthy at 100×).
    // K is computed IN-PLAN (a 1-row aggregate broadcast into the seed
    // filter, never a driver collect), the seed set is vec_id < K, and
    // the DuckDB oracle derives the SAME K from the same count and
    // mirrors the scaled training bit-for-bit — the integer-exact
    // Lloyd arithmetic (scaled-int coordinates, floor-div means,
    // cid-asc ties) generalizes to any K unchanged. The output pins
    // the derived K alongside recall@5 and per-subspace codebook
    // cardinalities, so an engine that silently under-trains fails the
    // gate.
    Q("q331_pq_scaled_k",
      (s, d) => {
        val pq = new Pq(s, d)
        val (codes, q, ranked) = pq.flat(scaled = true, 97)
        pq.answer(pq.recall(q, ranked)
          .unionByName(pq.codebookRows(codes)).unionByName(pq.kRow))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            kp AS (SELECT greatest(CAST(8 AS BIGINT),
                least(CAST(256 AS BIGINT), count(*) // 128)) AS kk
              FROM n),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            lm AS (SELECT vec_id, pos, pos // 16 AS m, x FROM long),
            c0 AS (SELECT m, vec_id AS cid, pos, x AS cm FROM lm
              WHERE vec_id < (SELECT kk FROM kp)),
            d1 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            a1 AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM a1 a JOIN lm l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            d2 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m,
                cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, m, pos, x AS qx FROM lm
              WHERE vec_id % 97 = 0),
            lut AS (SELECT q.qid, q.m, c.cid,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS pd
              FROM qs q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist
              FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM lm l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            hits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN adctop a ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1)
            SELECT 'recall' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n,
              CAST(coalesce(h.h, 0) AS BIGINT) AS v
            FROM (SELECT DISTINCT qid FROM qs) q
            LEFT JOIN hits h ON h.qid = q.qid
            UNION ALL
            SELECT 'codebook', CAST(m AS VARCHAR),
              count(DISTINCT cid), count(*)
            FROM codes GROUP BY 2
            UNION ALL
            SELECT 'k', 'k', CAST(kk AS BIGINT), CAST(kk AS BIGINT)
            FROM kp"""),
      doc = "corpus-scaled-K product quantization: codebook capacity " +
        "K = clamp(N/128, 8, 256) derived in-plan from corpus " +
        "cardinality, integer-exact scaled training mirrored by the " +
        "oracle — the gated remedy for the measured fixed-K recall " +
        "collapse"),

    // PQ shortlist + EXACT RE-RANK — the second half of the
    // production ANN remedy (FAISS's IVFPQR / "refine" stage; Jégou
    // et al. TPAMI 2011 §VI): the coded ADC scan only has to get the
    // true neighbors into a SHORTLIST (top-50 here, a 10x easier
    // target than top-5), then the raw vectors of just those 50 are
    // fetched and re-ranked with exact distances. Query-time quality
    // becomes top-5-of-exact-over-shortlist: the codebook's job
    // shrinks from "rank the corpus" to "don't drop the neighbors
    // from a 50-deep pool". Complements q331 (training capacity
    // K∝corpus): q331 fixes WHAT the codebook can represent, this
    // lane makes the answer robust to what it can't. At 100 TB the
    // re-rank leg is O(queries x 50 x dims) — corpus-independent —
    // and rides a broadcast semi-join into the vector table, so the
    // only corpus-scale pass remains the coded scan. Training is
    // q266's deliberately-weak pinned K=8 codebook so the gate
    // CONTRASTS in-data: recall_rr vs recall_adc per query, same
    // exact top-5 truth. Integer-exact throughout; DuckDB mirrors
    // bit-for-bit.
    Q("q335_pq_rerank",
      (s, d) => {
        val pq = new Pq(s, d)
        val (_, q, ranked) = pq.flat(scaled = false, 97)
        val short = pq.shortlist(ranked)
        pq.answer(pq.refine(q, short).unionByName(pq.shortRows(short)))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            lm AS (SELECT vec_id, pos, pos // 16 AS m, x FROM long),
            c0 AS (SELECT m, vec_id AS cid, pos, x AS cm FROM lm
              WHERE vec_id < 8),
            d1 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            a1 AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM a1 a JOIN lm l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            d2 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m,
                cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, m, pos, x AS qx FROM lm
              WHERE vec_id % 97 = 0),
            lut AS (SELECT q.qid, q.m, c.cid,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS pd
              FROM qs q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist,
                row_number() OVER (PARTITION BY l.qid
                  ORDER BY CAST(sum(l.pd) AS BIGINT) ASC,
                    k.vec_id ASC) AS rn
              FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM adc WHERE rn <= 5),
            shortl AS (SELECT qid, vec_id FROM adc WHERE rn <= 50),
            rr AS (SELECT s.qid, s.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM shortl s JOIN lm l ON l.vec_id = s.vec_id
              JOIN qs q ON q.qid = s.qid AND q.pos = l.pos
              GROUP BY 1, 2),
            rrtop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM rr)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM lm l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            rrhits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN rrtop r ON r.qid = e.qid AND r.vec_id = e.vec_id
              GROUP BY 1),
            adchits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN adctop a ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1),
            qids AS (SELECT DISTINCT qid FROM qs)
            SELECT 'recall_rr' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n,
              CAST(coalesce(h.h, 0) AS BIGINT) AS v
            FROM qids q LEFT JOIN rrhits h ON h.qid = q.qid
            UNION ALL
            SELECT 'recall_adc', CAST(q.qid AS VARCHAR),
              CAST(5 AS BIGINT), CAST(coalesce(h.h, 0) AS BIGINT)
            FROM qids q LEFT JOIN adchits h ON h.qid = q.qid
            UNION ALL
            SELECT 'short', CAST(qid AS VARCHAR), CAST(50 AS BIGINT),
              count(*)
            FROM shortl GROUP BY 2"""),
      doc = "PQ shortlist + exact re-rank (the FAISS refine stage): " +
        "ADC top-50 shortlist, raw vectors of the shortlist only " +
        "re-ranked with exact integer L2 to top-5; per-query " +
        "recall_rr vs recall_adc contrast against the same exact " +
        "truth — query-time recall made robust to codebook capacity"),

    // Incremental IVF index maintenance — the ingest half of a
    // production ANN deployment (the q43/q286 lanes build their index
    // in one batch; a 100 TB corpus arrives continuously): a coarse
    // quantizer is trained ONCE on the bootstrap snapshot (the first
    // arrival batch's id range) and FROZEN — the invariant that makes
    // incremental maintenance sound, because a frozen quantizer makes
    // cell assignment a pure per-vector function, so the
    // incrementally-assembled index is batch-split-invariant and
    // equals the batch-built index row-for-row (the oracle builds it
    // in one shot from the same frozen model). Arrival batches stream
    // in (>= 4 micro-batches, ascending vec_id ranges hard-required —
    // ids are assigned monotonically at ingest), each batch's vectors
    // are assigned via the broadcast codebook and APPENDED to the
    // cell-keyed index (vec_id, cell, raw vector — IVF-flat payload
    // rows; at scale the same appends land cell-partitioned and
    // compaction is a pure concat, no merge logic needed). Queries
    // then probe the assembled index: nprobe=2 cells by centroid
    // distance, exact integer L2 within the probed cells' rows via a
    // broadcast of the query panel — the index is the only
    // corpus-scale scan. Gated output: per-cell index stats, the full
    // probe top-5 per query (rank-for-rank), completeness (index rows
    // == corpus rows) and the multi-batch evidence.
    Q("q336_ivf_stream_ingest",
      (s, d) => Graft.scratchLane("q336_ivf") { tmp =>
        val sp = s
        import sp.implicits._
        val n = Pq.vectors(s, d)
        val staged = s"$tmp/staged"
        val idxDir = s"$tmp/index"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staged))
        // stage as 8 ascending vec_id-range files with ascending
        // mod-times (q327's arrival model: FileStreamSource orders by
        // timestamp then path, both ascend)
        val maxId = n.agg(max("vec_id")).head().getLong(0)
        val width = maxId / 8 + 1
        val t0 = System.currentTimeMillis() - 120000L
        // ONE staging job (the q327/q342 idiom, r17): slice ids
        // assigned in-plan, one file per slice via repartition(slice)
        // + partitionBy — per-slice coalesce(1) writes cost one job
        // round-trip per slice (8 jobs)
        n.withColumn("slice", expr(s"cast(vec_id div $width as int)"))
          .where(col("slice") >= 0 && col("slice") < 8)
          .repartition(col("slice"))
          .write.partitionBy("slice").parquet(s"$tmp/slices")
        (0 until 8).foreach { k =>
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
        // ---- frozen coarse quantizer: trained on the bootstrap
        // snapshot only (the first micro-batch's two files = vec_id <
        // 2*width), q286's integer-exact Lloyd round, then pivoted to
        // array form for the per-batch assignment expression
        val longSeed = n.filter(col("vec_id") < 2 * width)
          .selectExpr("vec_id", "posexplode(v) AS (pos, x)")
        val cc0 = longSeed.filter(col("vec_id") < 4)
          .selectExpr("vec_id AS cell", "pos", "x AS cm")
        // argmin via min(struct(dist, cell)) == (dist asc, cell asc)
        // — hash agg, no Exchange+Sort window (optimization r17)
        val a1 = longSeed.join(broadcast(cc0), Seq("pos"))
          .groupBy("vec_id", "cell")
          .agg(sum(expr("(x - cm) * (x - cm)")).as("dist"))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cell"))).as("mn"))
          .selectExpr("vec_id", "mn.cell AS cell")
        val cc1 = Pq.mean(a1.join(longSeed, Seq("vec_id")), "cell")
          .persist() // 4 cells x 64 dims = 256 rows: model-sized
        val cbArr = cc1.groupBy("cell")
          .agg(expr("transform(sort_array(collect_list(" +
            "struct(pos, cm))), s -> s.cm)").as("cmv"))
          .persist() // 4 rows — the broadcast assignment model
        def l2(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), " +
            "CAST(0 AS BIGINT), (acc, z) -> acc + z)"
        // ---- incremental assignment: >= 4 arrival batches, monotone
        // ids hard-required, each batch appended to the index
        val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
        val lastMax = new java.util.concurrent.atomic.AtomicLong(-1L)
        val q = s.readStream.schema(n.schema)
          .option("maxFilesPerTrigger", "2")
          .parquet(s"$staged/part-*.parquet")
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, _: Long) =>
              // one driver action covers emptiness + the order check
              // (was isEmpty + agg — two jobs per micro-batch, r17)
              val r = b.agg(min("vec_id"), max("vec_id")).head()
              if (!r.isNullAt(0)) {
                nBatches.incrementAndGet()
                require(r.getLong(0) > lastMax.get(),
                  s"arrival order regressed: batch min " +
                    s"${r.getLong(0)} <= prior max ${lastMax.get()}")
                lastMax.set(r.getLong(1))
                // argmin via min(struct(dist, cell, v)): (dist,
                // cell) pairs are unique per vec_id so v is never
                // compared; hash agg replaces the per-batch
                // Exchange+Sort window (optimization r17)
                b.crossJoin(broadcast(cbArr))
                  .withColumn("dist", expr(l2("v", "cmv")))
                  .groupBy("vec_id")
                  .agg(min(struct(col("dist"), col("cell"), col("v")))
                    .as("mn"))
                  .selectExpr("vec_id", "mn.cell AS cell", "mn.v AS v")
                  .write.mode("append").parquet(idxDir)
              }
          }
          .trigger(org.apache.spark.sql.streaming
            .Trigger.AvailableNow()).start()
        q.awaitTermination()
        // ---- serve from the assembled index -----------------------
        val idx = s.read.parquet(idxDir) // (vec_id, cell, v)
        val cellStats = idx.groupBy("cell")
          .agg(count(lit(1)).as("n"), sum("vec_id").as("v"))
          .selectExpr("'cell' AS kind", "CAST(cell AS STRING) AS key",
            "n", "v")
        val qs = n.filter(col("vec_id") % 97 === 0)
          .selectExpr("vec_id AS qid", "v AS qv")
        val wP = Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("cell").asc)
        val probes = qs.crossJoin(broadcast(cbArr))
          .withColumn("dist", expr(l2("qv", "cmv")))
          .withColumn("rn", row_number().over(wP))
          .filter(col("rn") <= 2).select("qid", "cell", "qv")
        val wT = Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("vec_id").asc)
        val probe = idx.join(broadcast(probes), Seq("cell"))
          .withColumn("dist", expr(l2("v", "qv")))
          .withColumn("rank", row_number().over(wT))
          .filter(col("rank") <= 5)
          .selectExpr("'probe' AS kind", "CAST(qid AS STRING) AS key",
            "CAST(rank AS BIGINT) AS n", "vec_id AS v")
        val meta = Seq(
          ("ingest", "multi_batch", 1L,
            if (nBatches.get() >= 4) 1L else 0L),
          ("ingest", "complete", n.count(), idx.count()))
          .toDF("kind", "key", "n", "v")
        Graft.collectLocal(cellStats.unionByName(probe).unionByName(meta))(
          Seq(cc1, cbArr).foreach(_.unpersist()))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            seed AS (SELECT * FROM long WHERE vec_id <
              2 * ((SELECT max(vec_id) FROM embeddings) // 8 + 1)),
            cc0 AS (SELECT vec_id AS cell, pos, x AS cm FROM seed
              WHERE vec_id < 4),
            cd1 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM seed l JOIN cc0 c ON l.pos = c.pos GROUP BY 1, 2),
            ca1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd1)
              WHERE rn = 1),
            cc1 AS (SELECT a.cell, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM ca1 a JOIN seed l ON l.vec_id = a.vec_id
              GROUP BY 1, 2),
            cd2 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM long l JOIN cc1 c ON l.pos = c.pos GROUP BY 1, 2),
            cells AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid FROM n WHERE vec_id % 97 = 0),
            pd AS (SELECT q.qid, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM qs q JOIN long l ON l.vec_id = q.qid
              JOIN cc1 c ON c.pos = l.pos GROUP BY 1, 2),
            probes AS (SELECT qid, cell FROM (SELECT qid, cell,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, cell ASC) AS rn FROM pd)
              WHERE rn <= 2),
            cand AS (SELECT p.qid, s.vec_id FROM probes p
              JOIN cells s ON s.cell = p.cell),
            cd AS (SELECT c.qid, c.vec_id,
                CAST(sum((l.x - ql.x) * (l.x - ql.x)) AS BIGINT) AS dist
              FROM cand c JOIN long l ON l.vec_id = c.vec_id
              JOIN long ql ON ql.vec_id = c.qid AND ql.pos = l.pos
              GROUP BY 1, 2),
            top AS (SELECT qid, vec_id, rank FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rank FROM cd)
              WHERE rank <= 5)
            SELECT 'cell' AS kind, CAST(cell AS VARCHAR) AS key,
              count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS v
            FROM cells GROUP BY 2
            UNION ALL
            SELECT 'probe', CAST(qid AS VARCHAR), CAST(rank AS BIGINT),
              CAST(vec_id AS BIGINT)
            FROM top
            UNION ALL SELECT 'ingest', 'multi_batch', 1, 1
            UNION ALL SELECT 'ingest', 'complete',
              (SELECT count(*) FROM n), (SELECT count(*) FROM n)"""),
      doc = "incremental IVF index maintenance: frozen bootstrap " +
        "coarse quantizer, >= 4 monotone arrival batches assigned " +
        "via the broadcast codebook and appended to the cell-keyed " +
        "index, probe queries served from the assembled index — " +
        "batch-split-invariant by the frozen-model purity, " +
        "index == batch build row-for-row"),

    // ANN index retraction — takedowns hitting the VECTOR store
    // (q337 is the dedup-state half of a removal request; this is the
    // index half): deleted vectors become TOMBSTONES against the
    // deployed IVF index — the frozen quantizer and the index layout
    // are NOT retrained or rebuilt (model purity again: retraining on
    // every takedown would churn every cell; a tombstone anti-join is
    // request-bounded and merge-safe with q336's append compaction).
    // Probes must serve ONLY live vectors: the oracle's top-5 is
    // computed over the tombstone-filtered cells, so a single served
    // tombstone — or a missing vacated-slot promotion (the 6th-nearest
    // live vector entering top-5 when a tombstone vacates a slot) —
    // breaks the hash. Per-cell live/tombstone accounting comes from
    // ONE pass over the index (the 4-cell stats frame persists;
    // the final plan executes 2 corpus scans: the live probe leg and
    // the query panel). Queries keep the full vec_id % 97 panel —
    // a deleted document's vector can still ARRIVE as a query; it
    // just can never be RETURNED.
    Q("q338_ann_retraction",
      (s, d) => {
        val n = Pq.vectors(s, d)
        val maxId = n.agg(max("vec_id")).head().getLong(0)
        val width = maxId / 8 + 1
        // the deployed frozen quantizer — q336's bootstrap model
        val longSeed = n.filter(col("vec_id") < 2 * width)
          .selectExpr("vec_id", "posexplode(v) AS (pos, x)")
        val cc0 = longSeed.filter(col("vec_id") < 4)
          .selectExpr("vec_id AS cell", "pos", "x AS cm")
        // argmin via min(struct(dist, cell)) == (dist asc, cell asc)
        // — hash agg, no Exchange+Sort window (optimization r17)
        val a1 = longSeed.join(broadcast(cc0), Seq("pos"))
          .groupBy("vec_id", "cell")
          .agg(sum(expr("(x - cm) * (x - cm)")).as("dist"))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cell"))).as("mn"))
          .selectExpr("vec_id", "mn.cell AS cell")
        val cc1 = Pq.mean(a1.join(longSeed, Seq("vec_id")), "cell")
          .persist()
        val cbArr = cc1.groupBy("cell")
          .agg(expr("transform(sort_array(collect_list(" +
            "struct(pos, cm))), s -> s.cm)").as("cmv"))
          .persist()
        def l2(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), " +
            "CAST(0 AS BIGINT), (acc, z) -> acc + z)"
        // the at-rest index (q336 proved ingest assembles exactly
        // this); argmin via min(struct(dist, cell, v)) — (dist, cell)
        // unique per vec_id, so v never compared (optimization r17)
        val idx = n.crossJoin(broadcast(cbArr))
          .withColumn("dist", expr(l2("v", "cmv")))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cell"), col("v"))).as("mn"))
          .selectExpr("vec_id", "mn.cell AS cell", "mn.v AS v")
        // per-cell live/tombstone accounting: ONE index pass, 4 rows
        val cellAgg = idx
          .withColumn("dead", (col("vec_id") % 59 === 0).cast("long"))
          .groupBy("cell").agg(
            sum(expr("1 - dead")).as("nlive"),
            coalesce(sum(when(col("dead") === 0, col("vec_id"))),
              lit(0L)).cast("long").as("vlive"),
            sum("dead").as("ntomb"),
            coalesce(sum(when(col("dead") === 1, col("vec_id"))),
              lit(0L)).cast("long").as("vtomb"))
          .persist() // 4 cells: model-sized
        val cellRows = cellAgg.selectExpr("'cell' AS kind",
          "CAST(cell AS STRING) AS key", "nlive AS n", "vlive AS v")
        val tombRows = cellAgg.selectExpr("'tomb' AS kind",
          "CAST(cell AS STRING) AS key", "ntomb AS n", "vtomb AS v")
        // probes over LIVE rows only (tombstone anti-join on the
        // request-sized takedown predicate)
        val qs = n.filter(col("vec_id") % 97 === 0)
          .selectExpr("vec_id AS qid", "v AS qv")
        val wP = Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("cell").asc)
        val probes = qs.crossJoin(broadcast(cbArr))
          .withColumn("dist", expr(l2("qv", "cmv")))
          .withColumn("rn", row_number().over(wP))
          .filter(col("rn") <= 2).select("qid", "cell", "qv")
        val wT = Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("vec_id").asc)
        val probe = idx.filter(col("vec_id") % 59 =!= 0)
          .join(broadcast(probes), Seq("cell"))
          .withColumn("dist", expr(l2("v", "qv")))
          .withColumn("rank", row_number().over(wT))
          .filter(col("rank") <= 5)
          .selectExpr("'probe' AS kind", "CAST(qid AS STRING) AS key",
            "CAST(rank AS BIGINT) AS n", "vec_id AS v")
        Graft.collectLocal(
          cellRows.unionByName(tombRows).unionByName(probe))(
          Seq(cc1, cbArr, cellAgg).foreach(_.unpersist()))
      },
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            seed AS (SELECT * FROM long WHERE vec_id <
              2 * ((SELECT max(vec_id) FROM embeddings) // 8 + 1)),
            cc0 AS (SELECT vec_id AS cell, pos, x AS cm FROM seed
              WHERE vec_id < 4),
            cd1 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM seed l JOIN cc0 c ON l.pos = c.pos GROUP BY 1, 2),
            ca1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd1)
              WHERE rn = 1),
            cc1 AS (SELECT a.cell, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM ca1 a JOIN seed l ON l.vec_id = a.vec_id
              GROUP BY 1, 2),
            cd2 AS (SELECT l.vec_id, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM long l JOIN cc1 c ON l.pos = c.pos GROUP BY 1, 2),
            cells AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist ASC, cell ASC) AS rn FROM cd2)
              WHERE rn = 1),
            cellagg AS (SELECT cell,
                CAST(sum(CASE WHEN vec_id % 59 != 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nlive,
                CAST(coalesce(sum(CASE WHEN vec_id % 59 != 0
                  THEN vec_id END), 0) AS BIGINT) AS vlive,
                CAST(sum(CASE WHEN vec_id % 59 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ntomb,
                CAST(coalesce(sum(CASE WHEN vec_id % 59 = 0
                  THEN vec_id END), 0) AS BIGINT) AS vtomb
              FROM cells GROUP BY 1),
            qs AS (SELECT vec_id AS qid FROM n WHERE vec_id % 97 = 0),
            pd AS (SELECT q.qid, c.cell,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT) AS dist
              FROM qs q JOIN long l ON l.vec_id = q.qid
              JOIN cc1 c ON c.pos = l.pos GROUP BY 1, 2),
            probes AS (SELECT qid, cell FROM (SELECT qid, cell,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, cell ASC) AS rn FROM pd)
              WHERE rn <= 2),
            cand AS (SELECT p.qid, s.vec_id FROM probes p
              JOIN cells s ON s.cell = p.cell
              WHERE s.vec_id % 59 != 0),
            cd AS (SELECT c.qid, c.vec_id,
                CAST(sum((l.x - ql.x) * (l.x - ql.x)) AS BIGINT) AS dist
              FROM cand c JOIN long l ON l.vec_id = c.vec_id
              JOIN long ql ON ql.vec_id = c.qid AND ql.pos = l.pos
              GROUP BY 1, 2),
            top AS (SELECT qid, vec_id, rank FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rank FROM cd)
              WHERE rank <= 5)
            SELECT 'cell' AS kind, CAST(cell AS VARCHAR) AS key,
              nlive AS n, vlive AS v FROM cellagg
            UNION ALL
            SELECT 'tomb', CAST(cell AS VARCHAR), ntomb, vtomb
            FROM cellagg
            UNION ALL
            SELECT 'probe', CAST(qid AS VARCHAR), CAST(rank AS BIGINT),
              CAST(vec_id AS BIGINT)
            FROM top"""),
      doc = "ANN index retraction: takedown vectors tombstoned " +
        "against the deployed IVF index (frozen model NOT retrained), " +
        "per-cell live/tombstone accounting in one pass, probes " +
        "serve only live vectors — vacated top-5 slots promote the " +
        "next live neighbor, pinned rank-for-rank by the oracle"),

    // The composed 100 TB ANN operating configuration, gated —
    // q331 × q335 in one lane: codebook capacity grows with the
    // corpus (K = clamp(N/128, 8, 256), derived in-plan) AND the
    // coded scan only produces a top-50 shortlist that exact re-rank
    // finishes. BENCH_NOTES r14 measured the halves and the
    // composition (at 10×: pinned K=8 0.0019; scaled-K alone 0.2377;
    // K=128 + re-rank 0.3778 — above the 1× baseline); this lane
    // pins the composition as BEHAVIOR, so a regression in either
    // half (an under-trained codebook, a shortlist that skips
    // re-rank) fails one of the recall_rr/recall_adc/codebook/k row
    // families. Same integer-exact arithmetic; DuckDB mirrors scaled
    // training AND the refine stage bit-for-bit.
    Q("q339_pq_scaled_rerank",
      (s, d) => scaledRerankRows(s, d),
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            kp AS (SELECT greatest(CAST(8 AS BIGINT),
                least(CAST(256 AS BIGINT), count(*) // 128)) AS kk
              FROM n),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            lm AS (SELECT vec_id, pos, pos // 16 AS m, x FROM long),
            c0 AS (SELECT m, vec_id AS cid, pos, x AS cm FROM lm
              WHERE vec_id < (SELECT kk FROM kp)),
            d1 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            a1 AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM a1 a JOIN lm l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            d2 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m,
                cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, m, pos, x AS qx FROM lm
              WHERE vec_id % 97 = 0),
            lut AS (SELECT q.qid, q.m, c.cid,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS pd
              FROM qs q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist,
                row_number() OVER (PARTITION BY l.qid
                  ORDER BY CAST(sum(l.pd) AS BIGINT) ASC,
                    k.vec_id ASC) AS rn
              FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM adc WHERE rn <= 5),
            shortl AS (SELECT qid, vec_id FROM adc WHERE rn <= 50),
            rr AS (SELECT s.qid, s.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM shortl s JOIN lm l ON l.vec_id = s.vec_id
              JOIN qs q ON q.qid = s.qid AND q.pos = l.pos
              GROUP BY 1, 2),
            rrtop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM rr)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM lm l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            rrhits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN rrtop r ON r.qid = e.qid AND r.vec_id = e.vec_id
              GROUP BY 1),
            adchits AS (SELECT e.qid, count(*) AS h FROM extop e
              JOIN adctop a ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1),
            qids AS (SELECT DISTINCT qid FROM qs)
            SELECT 'recall_rr' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n,
              CAST(coalesce(h.h, 0) AS BIGINT) AS v
            FROM qids q LEFT JOIN rrhits h ON h.qid = q.qid
            UNION ALL
            SELECT 'recall_adc', CAST(q.qid AS VARCHAR),
              CAST(5 AS BIGINT), CAST(coalesce(h.h, 0) AS BIGINT)
            FROM qids q LEFT JOIN adchits h ON h.qid = q.qid
            UNION ALL
            SELECT 'codebook', CAST(m AS VARCHAR),
              count(DISTINCT cid), count(*)
            FROM codes GROUP BY 2
            UNION ALL
            SELECT 'k', 'k', CAST(kk AS BIGINT), CAST(kk AS BIGINT)
            FROM kp"""),
      doc = "composed ANN operating configuration: corpus-scaled-K " +
        "codebook (q331) + ADC top-50 shortlist with exact re-rank " +
        "(q335) in one gated lane — capacity fixes what the " +
        "shortlist can hold, re-rank fixes how it's ordered; " +
        "recall_rr vs recall_adc plus codebook/k rows pin both halves"),

    // The recall FLOOR on the operating configuration (VERDICT r14
    // missing #2): q339 pins the ARITHMETIC against the oracle, but a
    // quality regression that degrades recall while staying oracle-
    // consistent (a mirrored codebook change, a shortcut edited into
    // both dialects) fails no gate there. This lane runs the exact
    // q339 plan (the shared scaledRerankRows builder), aggregates its
    // per-query hit counts, and emits BOOLEAN floor rows whose oracle
    // side is the LITERAL 1 — so search QUALITY itself is gated:
    //   - rr_ge_20pct: re-ranked recall@5 >= 0.20, integer-exact as
    //     5*hits >= candidates (measured headroom: 0.53 at sf0.01,
    //     0.25+ at sf0.1, 0.40 at the 10x soak — recall is
    //     deterministic per dataset, no variance term);
    //   - rr_ge_adc: re-rank never loses to the raw coded scan (the
    //     exact-best-5-of-shortlist contains every ground-truth
    //     member the shortlist holds, so this is an invariant of
    //     CORRECT re-ranking — a violated row means re-rank stopped
    //     scoring exact distances);
    //   - queries_nonzero: the query panel is non-degenerate;
    //   - k_in_range: the in-plan scaled K landed inside the
    //     clamp bounds [8, 256].
    // The q339 output is model-sized (per-query recall rows + <=M
    // codebook rows + 1 k row), so scoring it on the driver is the
    // audited collect shape; the recall VALUES go to stderr for the
    // soak notes, never into the gated frame (they are already
    // oracle-pinned row-for-row by q339 itself).
    Q("q341_ann_recall_floor",
      (s, d) => {
        val sp = s
        import sp.implicits._
        // the builder collects q339's rows and releases what it cached
        val rows = scaledRerankRows(s, d).collect()
        def agg(kind: String, col: Int) =
          rows.filter(_.getString(0) == kind).map(_.getLong(col)).sum
        val rrh = agg("recall_rr", 3)
        val cand = agg("recall_rr", 2)
        val adch = agg("recall_adc", 3)
        val kk = rows.find(_.getString(0) == "k")
          .map(_.getLong(2)).getOrElse(0L)
        Console.err.println(s"Q341_FLOOR rr=$rrh/$cand adc=$adch/" +
          s"$cand k=$kk " +
          f"recall_rr=${if (cand == 0) 0.0 else rrh.toDouble / cand}%.4f")
        Seq(
          ("floor", "rr_ge_20pct", 1L,
            if (cand > 0 && 5L * rrh >= cand) 1L else 0L),
          ("floor", "rr_ge_adc", 1L, if (rrh >= adch) 1L else 0L),
          ("floor", "queries_nonzero", 1L, if (cand > 0) 1L else 0L),
          ("floor", "k_in_range", 1L,
            if (kk >= 8L && kk <= 256L) 1L else 0L))
          .toDF("kind", "key", "n", "v")
      },
      Some("""SELECT 'floor' AS kind, 'rr_ge_20pct' AS key,
              CAST(1 AS BIGINT) AS n, CAST(1 AS BIGINT) AS v
            UNION ALL SELECT 'floor', 'rr_ge_adc', 1, 1
            UNION ALL SELECT 'floor', 'queries_nonzero', 1, 1
            UNION ALL SELECT 'floor', 'k_in_range', 1, 1"""),
      doc = "gated recall floor on the ANN operating configuration: " +
        "re-ranked recall@5 >= 0.20, re-rank >= raw ADC, non-empty " +
        "query panel, K inside clamp bounds — the oracle side is " +
        "literal, so a quality regression fails the gate even when " +
        "the arithmetic stays oracle-consistent"),

    // OPQ's next fidelity rung (ROADMAP r15 #2), in the permutation
    // family: Ge et al.'s non-parametric OPQ rotates the space so
    // subspace distortions balance before PQ; with R restricted to a
    // PERMUTATION matrix that is exactly their eigenvalue-allocation
    // initialization — order dimensions by variance and deal them
    // across subspaces so no single codebook absorbs all the spread
    // (natural pos DIV 16 order puts the 16 highest-variance dims of
    // a correlated block into ONE subspace, whose K centroids then
    // under-fit it). Fully integer-exact and oracle-mirrorable where
    // a learned rotation (SVD) is not:
    //   1. per-dim spread from integer sums of 1024-coarsened values
    //      (cx = floor(x/1024) via the mirrored mod trick; s1 = sum
    //      cx, s2 = sum cx^2 stay in int64 through the 100x soak
    //      where ScaleGen's dim0 shift reaches ~8e8 quantized);
    //   2. rank = row_number over variance nn*s2 - s1*s1 DESC,
    //      computed EXACTLY in each engine's wide-integer type —
    //      DECIMAL(38,0) here, HUGEINT in the oracle (max magnitude
    //      ~2.6e22 at the 100x soak, far inside both) — so the
    //      order cannot be flipped by fp rounding or an FMA
    //      contraction of a*b - c*d (ties broken pos ASC);
    //   3. snake allocation: rank r lands in subspace r%M on even
    //      rows of the deal, M-1-r%M on odd rows — per-subspace rank
    //      sums come out exactly equal (the balance rows pin this);
    //   4. then q331's scaled-K PQ/ADC machinery verbatim, with m
    //      read from the broadcast 64-row allocation instead of
    //      pos DIV 16. recall rows use kind='recall' so AnnRecall
    //      measures the opq-vs-natural contrast against q331 at the
    //      soak scales.
    Q("q343_opq_permutation",
      (s, d) => opqPermutationRows(s, d),
      Some("""WITH n AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS v
              FROM embeddings),
            kp AS (SELECT greatest(CAST(8 AS BIGINT),
                least(CAST(256 AS BIGINT), count(*) // 128)) AS kk
              FROM n),
            long AS (SELECT vec_id,
                generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x
              FROM n),
            dv AS (SELECT pos, CAST(count(*) AS BIGINT) AS nn,
                CAST(sum(cx * cx) AS BIGINT) AS s2,
                CAST(sum(cx) AS BIGINT) AS s1
              FROM (SELECT pos,
                (x - (((x % 1024) + 1024) % 1024)) // 1024 AS cx
                FROM long) GROUP BY 1),
            al AS (SELECT pos, r,
                CAST(CASE WHEN (r // 4) % 2 = 0 THEN r % 4
                  ELSE 3 - (r % 4) END AS BIGINT) AS m
              FROM (SELECT pos, CAST(row_number() OVER (ORDER BY
                  CAST(nn AS HUGEINT) * CAST(s2 AS HUGEINT) -
                  CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) DESC,
                  pos ASC) - 1 AS BIGINT) AS r FROM dv)),
            lm AS (SELECT l.vec_id, l.pos, a.m, l.x
              FROM long l JOIN al a ON a.pos = l.pos),
            c0 AS (SELECT m, vec_id AS cid, pos, x AS cm FROM lm
              WHERE vec_id < (SELECT kk FROM kp)),
            d1 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c0 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            a1 AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d1)
              WHERE rn = 1),
            c1 AS (SELECT a.m, a.cid, l.pos,
                CAST((sum(l.x) - ((sum(l.x) % count(*)) + count(*))
                  % count(*)) / count(*) AS BIGINT) AS cm
              FROM a1 a JOIN lm l ON l.vec_id = a.vec_id
                AND l.m = a.m
              GROUP BY 1, 2, 3),
            d2 AS (SELECT l.vec_id, l.m, c.cid,
                CAST(sum((l.x - c.cm) * (l.x - c.cm)) AS BIGINT)
                  AS dist
              FROM lm l JOIN c1 c ON l.m = c.m AND l.pos = c.pos
              GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m,
                cid, row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY dist ASC, cid ASC) AS rn FROM d2)
              WHERE rn = 1),
            qs AS (SELECT vec_id AS qid, m, pos, x AS qx FROM lm
              WHERE vec_id % 97 = 0),
            lut AS (SELECT q.qid, q.m, c.cid,
                CAST(sum((q.qx - c.cm) * (q.qx - c.cm)) AS BIGINT)
                  AS pd
              FROM qs q JOIN c1 c ON q.m = c.m AND q.pos = c.pos
              GROUP BY 1, 2, 3),
            adc AS (SELECT l.qid, k.vec_id,
                CAST(sum(l.pd) AS BIGINT) AS dist
              FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
              GROUP BY 1, 2),
            adctop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM adc)
              WHERE rn <= 5),
            ex AS (SELECT q.qid, l.vec_id,
                CAST(sum((l.x - q.qx) * (l.x - q.qx)) AS BIGINT)
                  AS dist
              FROM long l JOIN qs q ON l.pos = q.pos GROUP BY 1, 2),
            extop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY dist ASC, vec_id ASC) AS rn FROM ex)
              WHERE rn <= 5),
            hits AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS h
              FROM extop e JOIN adctop a
                ON a.qid = e.qid AND a.vec_id = e.vec_id
              GROUP BY 1),
            qids AS (SELECT DISTINCT qid FROM qs)
            SELECT 'recall' AS kind, CAST(q.qid AS VARCHAR) AS key,
              CAST(5 AS BIGINT) AS n, CAST(coalesce(h.h, 0) AS BIGINT)
                AS v
            FROM qids q LEFT JOIN hits h ON h.qid = q.qid
            UNION ALL
            SELECT 'alloc', CAST(pos AS VARCHAR), CAST(r AS BIGINT), m
            FROM al
            UNION ALL
            SELECT 'balance', CAST(m AS VARCHAR),
              CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT)
            FROM al GROUP BY 2
            UNION ALL
            SELECT 'codebook', CAST(m AS VARCHAR),
              CAST(count(DISTINCT cid) AS BIGINT),
              CAST(count(*) AS BIGINT)
            FROM codes GROUP BY 2
            UNION ALL
            SELECT 'k', 'k', CAST(kk AS BIGINT), CAST(kk AS BIGINT)
            FROM kp"""),
      doc = "OPQ permutation rung (Ge et al. eigenvalue-allocation " +
        "restricted to a permutation): dims ranked by integer-exact " +
        "coarse variance, snake-dealt across subspaces so rank sums " +
        "balance exactly, then q331's scaled-K PQ/ADC over the " +
        "permuted subspaces — allocation, balance, codebook and " +
        "recall all oracle-pinned")
  )

  /** The q343 OPQ-permutation plan. qmod is the query-panel modulus:
    * the gated lane uses 97 (the oracle mirrors it); AnnRecall's
    * big-corpus probes (SPARK_GRAFT_QMOD) pass a larger one, because the
    * exact-truth leg is O(queries × corpus × dims) and at 100× the %97
    * panel, not the index, is the bottleneck. */
  private[graft] def opqPermutationRows(
      s: org.apache.spark.sql.SparkSession, d: String,
      qmod: Long = 97L)
      : org.apache.spark.sql.DataFrame = {
    val mSub = 4 // subspaces (64 dims / 16 per subspace)
    val pq = new Pq(s, d)
    val alloc = pq.keep(pq.long
      .selectExpr("pos",
        "(x - (((x % 1024) + 1024) % 1024)) DIV 1024 AS cx")
      .groupBy("pos")
      .agg(count(lit(1)).as("nn"), sum(expr("cx * cx")).as("s2"),
        sum("cx").as("s1"))
      .withColumn("r", row_number().over(Window.orderBy(
        expr("CAST(nn AS DECIMAL(38,0)) * CAST(s2 AS " +
          "DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)) * " +
          "CAST(s1 AS DECIMAL(38,0))").desc,
        col("pos").asc)) - 1)
      .selectExpr("pos", "r", s"CASE WHEN (r DIV $mSub) % 2 = 0 " +
        s"THEN r % $mSub ELSE ($mSub - 1) - (r % $mSub) END AS m"))
    // the permutation rides into the corpus as ONE broadcast row
    // holding a pos-indexed array — an element_at lookup per row,
    // never a join against the corpus (the q331 in-plan-K idiom,
    // one rung up: a 64-slot model instead of a 1-value model)
    val pm = alloc.agg(expr("transform(array_sort(" +
      "collect_list(struct(pos AS p, m AS mm))), e -> e.mm) AS pm"))
    val lf = pq.long.crossJoin(broadcast(pm))
      .selectExpr("vec_id", "pos", "x",
        "element_at(pm, CAST(pos + 1 AS INT)) AS m")
    // ROW-LOCAL assign with POSITION-CARRYING codebook entries: the
    // permutation scatters a subspace's dims across v, so each entry
    // gathers its own positions instead of a contiguous slice (native
    // graft_opq_codes kernel, the same (dist asc, cid asc) selection as
    // graft_pq_codes). The m cast only normalizes the broadcast struct
    // for the kernel (subspace ids are 0..3 either way).
    def cbArr(c: org.apache.spark.sql.DataFrame) =
      c.groupBy("m", "cid")
        .agg(expr("sort_array(collect_list(struct(pos, cm)))").as("pcs"))
        .groupBy()
        .agg(collect_list(struct(col("m").cast("long").as("m"), col("cid"),
          col("pcs"))).as("cb"))
    val codesExpr = s"graft_opq_codes(v, cb, $mSub)"
    val book = pq.keep(Pq.mean(pq.n.crossJoin(broadcast(pm))
      .crossJoin(broadcast(cbArr(pq.seed(lf, scaled = true))))
      .selectExpr("v", "pm", s"$codesExpr AS codes")
      .selectExpr("pm", "codes", "posexplode(v) AS (pos, x)")
      .selectExpr("element_at(pm, CAST(pos + 1 AS INT)) AS m",
        "codes", "pos", "x")
      .selectExpr("m",
        "element_at(codes, CAST(m + 1 AS INT)) AS cid", "pos", "x"),
      "m", "cid"))
    val codes = pq.n.crossJoin(broadcast(cbArr(book)))
      .selectExpr("vec_id", s"posexplode($codesExpr) AS (m, cid)")
    val q = pq.queries(lf, qmod)
    val allocRows = alloc.selectExpr("'alloc' AS kind",
      "CAST(pos AS STRING) AS key", "CAST(r AS BIGINT) AS n",
      "CAST(m AS BIGINT) AS v")
    val balance = alloc.groupBy("m")
      .agg(count(lit(1)).as("n"), sum("r").as("v"))
      .selectExpr("'balance' AS kind", "CAST(m AS STRING) AS key",
        "n", "v")
    pq.answer(pq.recall(q, pq.adc(codes, pq.lut(q, book)))
      .unionByName(allocRows).unionByName(balance)
      .unionByName(pq.codebookRows(codes)).unionByName(pq.kRow))
  }

  /** The q339 operating configuration (scaled-K codebook, ADC top-50
    * shortlist, exact integer re-rank), shared with the q341 recall
    * floor so the floor scores exactly the plan q339 gates. qmod as in
    * [[opqPermutationRows]]: 97 for the gated lanes, larger for
    * AnnRecall's big-corpus probes. */
  private[graft] def scaledRerankRows(
      s: org.apache.spark.sql.SparkSession, d: String,
      qmod: Long = 97L)
      : org.apache.spark.sql.DataFrame = {
    val pq = new Pq(s, d)
    val (codes, q, ranked) = pq.flat(scaled = true, qmod)
    pq.answer(pq.refine(q, pq.shortlist(ranked))
      .unionByName(pq.codebookRows(codes)).unionByName(pq.kRow))
  }
}
