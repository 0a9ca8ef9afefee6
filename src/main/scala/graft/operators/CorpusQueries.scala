package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Graft, Q, Tables}
import graft.text.TextOps

/** Corpus-shaping operators for the training-data pipeline (round 5):
  * line-level dedup that REWRITES documents (the C4/RefinedWeb
  * transform), exact per-language length-band filtering, stride
  * chunking into training windows, and DF-filtered keyword extraction.
  * All pure Catalyst expressions + one aggregation shuffle each — the
  * per-record work stays in whole-stage codegen, which is the shape
  * that holds at 100 TB.
  */
object CorpusQueries {

  /** Driver-literal LM model guard (VERDICT r13 #5 / ADVICE r13): the
    * sampled n-gram TYPE tables are model-sized at the gated scales
    * but grow with the corpus; a collect() that silently pressures the
    * driver is the failure mode this rules out. Past the ceiling the
    * correct shape is q243's full-shuffle exact-model regime (the
    * documented q243/q255 split) — the error message names it. */
  private def boundedModel(n: Int, lane: String): Unit =
    require(n <= 4000000,
      s"$lane: sampled n-gram model has $n types — past the driver-" +
        "literal regime; run the q243-style exact-model (shuffle-join)" +
        " shape at this scale")

  val all: Seq[Q] = Seq(

    // C4-style line-level dedup: lines whose normalized form appears in
    // >2 distinct documents are boilerplate and are REMOVED; each
    // document is reassembled from its surviving lines in order. The
    // per-source signature sums an md5-derived hash of every cleaned
    // text, so reassembly ORDER defects (not just counts) break parity.
    // The line-frequency table is tiny relative to the corpus and
    // broadcast; the corpus side is one explode + one groupBy(doc).
    Q("q149_line_dedup",
      (s, d) => {
        val lines = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
          .withColumn("k", lower(trim(col("line"))))
        val dropSet = lines.filter(length(col("k")) > 0)
          .groupBy("k").agg(countDistinct("doc_id").as("df"))
          .filter(col("df") > 2)
          .select(col("k"), lit(1L).as("dropped"))
        val marked = lines
          .join(broadcast(dropSet), Seq("k"), "left")
          .withColumn("dropped", coalesce(col("dropped"), lit(0L)))
        val docs = marked.groupBy("doc_id", "source").agg(
          sum(lit(1L) - col("dropped")).as("n_kept"),
          sum(col("dropped")).as("n_dropped"),
          array_join(
            transform(
              filter(
                array_sort(collect_list(
                  struct(col("pos"), col("dropped"), col("line")))),
                x => x("dropped") === 0L),
              x => x("line")),
            "\n").as("clean"))
        docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_kept").as("lines_kept"),
          sum("n_dropped").as("lines_dropped"),
          sum(expr(s"${TextOps.sparkTokHash("md5(clean)")} % ${TextOps.P}"))
            .as("clean_sig"))
      },
      Some(s"""WITH lines AS (SELECT doc_id, source,
              generate_subscripts(string_split(text, chr(10)), 1) AS pos,
              unnest(string_split(text, chr(10))) AS line
              FROM documents),
            keyed AS (SELECT *, lower(trim(line)) AS k FROM lines),
            freq AS (SELECT k FROM keyed WHERE len(k) > 0
              GROUP BY k HAVING count(DISTINCT doc_id) > 2),
            marked AS (SELECT keyed.*,
              CASE WHEN freq.k IS NULL THEN 0 ELSE 1 END AS dropped
              FROM keyed LEFT JOIN freq ON keyed.k = freq.k),
            docs AS (SELECT doc_id, source,
              sum(1 - dropped) AS n_kept, sum(dropped) AS n_dropped,
              coalesce(string_agg(CASE WHEN dropped = 0 THEN line END,
                chr(10) ORDER BY pos), '') AS clean
              FROM marked GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
              CAST(sum(n_kept) AS BIGINT) AS lines_kept,
              CAST(sum(n_dropped) AS BIGINT) AS lines_dropped,
              CAST(sum(${TextOps.duckTokHash("md5(clean)")} % ${TextOps.P})
                AS BIGINT) AS clean_sig
            FROM docs GROUP BY source"""),
      doc = "line-level dedup rewriting documents (C4 transform)"),

    // Exact per-language length-band filter: keep the (5%, 95%] band of
    // documents ranked by (n_chars, doc_id) — pure integer rank logic,
    // so Spark and the oracle agree exactly where approximate-quantile
    // APIs would not. One window shuffle on lang; at scale the same
    // band comes from a two-pass exact-rank (count + filter) with no
    // whole-partition sort of the wide rows.
    Q("q150_length_band",
      (s, d) => {
        val byLang = Window.partitionBy("lang")
        val rn = row_number().over(
          byLang.orderBy(col("n_chars"), col("doc_id")))
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars"))
          .withColumn("rn", rn)
          .withColumn("cnt", count(lit(1)).over(byLang))
          .filter(col("rn") * 100 > col("cnt") * 5 &&
            col("rn") * 100 <= col("cnt") * 95)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            min("n_chars").as("min_chars"),
            max("n_chars").as("max_chars"),
            sum("n_chars").as("sum_chars"))
      },
      Some("""WITH ranked AS (SELECT lang, n_chars,
              row_number() OVER (PARTITION BY lang
                ORDER BY n_chars, doc_id) AS rn,
              count(*) OVER (PARTITION BY lang) AS cnt
              FROM documents)
            SELECT lang, count(*) AS n_kept, min(n_chars) AS min_chars,
              max(n_chars) AS max_chars,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM ranked
            WHERE rn * 100 > cnt * 5 AND rn * 100 <= cnt * 95
            GROUP BY lang"""),
      doc = "exact per-language length-band (p5, p95] filtering"),

    // Stride chunking into training windows: 200-char chunks every 150
    // chars (50 overlap) — sequence + explode keeps the fan-out inside
    // codegen with no shuffle before the final aggregate; distinct
    // chunk hashes measure the overlap-induced duplication a packer
    // downstream must budget for.
    Q("q151_chunking",
      (s, d) => Tables.documents(s, d)
        .select(col("source"), col("text"))
        .withColumn("s", explode(sequence(lit(1),
          greatest(length(col("text")), lit(1)), lit(150))))
        .withColumn("chunk", expr("substring(text, s, 200)"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(length(col("chunk"))).as("chunk_chars"),
          countDistinct(md5(col("chunk"))).as("distinct_chunks")),
      Some("""WITH ch AS (SELECT source, substr(text, s, 200) AS chunk
              FROM (SELECT source, text,
                unnest(range(1, greatest(len(text), 1) + 1, 150)) AS s
                FROM documents))
            SELECT source, count(*) AS n_chunks,
              CAST(sum(len(chunk)) AS BIGINT) AS chunk_chars,
              count(DISTINCT md5(chunk)) AS distinct_chunks
            FROM ch GROUP BY source"""),
      doc = "stride chunking into overlapping training windows"),

    // DF-filtered keyword extraction: each document's top token by
    // (tf desc, token asc) among tokens in at most 80% of the corpus —
    // a DF cutoff wide enough to rank on this vocabulary, tight enough
    // to drop corpus-universal stopwords. This is
    // integer-deterministic tf-idf (the idf side is a DF cutoff, not a
    // float score, so both engines rank identically). The DF table is
    // corpus-wide but token-keyed and broadcast after the cutoff.
    Q("q152_keywords",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tf = docs
          .selectExpr("doc_id", s"explode(${TextOps.sparkToks}) as tok")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val total = docs.agg(
          countDistinct("doc_id").as("n_total"))
        val dfTab = tf.groupBy("tok")
          .agg(countDistinct("doc_id").as("df"))
          .crossJoin(broadcast(total))
          .filter(col("df") * 5 <= col("n_total") * 4)
          .select("tok")
        val top = tf.join(broadcast(dfTab), Seq("tok"))
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("tf").desc, col("tok").asc)))
          .filter(col("rn") === 1)
        top.groupBy(col("tok").as("keyword"))
          .agg(count(lit(1)).as("n_docs_top"), sum("tf").as("sum_tf"))
      },
      Some(s"""WITH tf AS (SELECT doc_id, tok, count(*) AS tf
              FROM (SELECT doc_id, unnest(${TextOps.duckToks}) AS tok
                    FROM documents)
              GROUP BY doc_id, tok),
            rare AS (SELECT tok FROM tf GROUP BY tok
              HAVING count(DISTINCT doc_id) * 5 <=
                (SELECT count(DISTINCT doc_id) FROM documents) * 4),
            top AS (SELECT doc_id, tok, tf,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY tf DESC, tok ASC) AS rn
              FROM tf WHERE tok IN (SELECT tok FROM rare))
            SELECT tok AS keyword, count(*) AS n_docs_top,
              CAST(sum(tf) AS BIGINT) AS sum_tf
            FROM top WHERE rn = 1 GROUP BY 1"""),
      doc = "DF-cutoff keyword extraction, integer-deterministic"),

    // Deterministic train/val/test splitting + per-epoch shuffle keys:
    // the split is a salted content-free hash of doc_id (stable across
    // runs and cluster sizes — the property a reproducible pipeline
    // needs), and each epoch's global shuffle order is a second keyed
    // hash. Per (split, epoch) the gate checks the population, the
    // argmin head of the shuffle order, and an order-invariant key sum
    // — all computable without any global sort (readers sort within
    // partitions at training time).
    Q("q159_split_shuffle",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keyed = docs.selectExpr("doc_id",
            s"${TextOps.sparkTokHash("md5(cast(doc_id as string))")} % 100" +
              " as pct")
          .selectExpr("doc_id",
            "CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val'" +
              " ELSE 'test' END as split")
        keyed
          .withColumn("epoch", explode(sequence(lit(0), lit(1))))
          .withColumn("k", expr(
            s"""${TextOps.sparkTokHash(
              "md5(concat(cast(doc_id as string), ':'," +
                " cast(epoch as string)))")} % ${TextOps.P}"""))
          .groupBy("split", "epoch")
          .agg(count(lit(1)).as("n_docs"),
            expr("min_by(doc_id, k)").as("first_doc"),
            sum("k").as("key_sum"))
      },
      Some(s"""WITH keyed AS (SELECT doc_id,
              CASE WHEN ${TextOps.duckTokHash(
                "md5(doc_id::VARCHAR)")} % 100 < 80 THEN 'train'
                WHEN ${TextOps.duckTokHash(
                "md5(doc_id::VARCHAR)")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
              FROM documents),
            e AS (SELECT doc_id, split, unnest([0, 1]) AS epoch
              FROM keyed),
            k AS (SELECT split, epoch, doc_id,
              ${TextOps.duckTokHash(
                "md5(doc_id::VARCHAR || ':' || epoch::VARCHAR)")} %
                ${TextOps.P} AS k
              FROM e)
            SELECT split, epoch, count(*) AS n_docs,
              arg_min(doc_id, k) AS first_doc,
              CAST(sum(k) AS BIGINT) AS key_sum
            FROM k GROUP BY 1, 2"""),
      doc = "salted split + per-epoch shuffle keys, sort-free gate"),

    // Quality filter funnel: the standard staged corpus cleaning —
    // language allowlist, minimum length, repetition (type-token), and
    // lexical quality (stopword share + mean token length) — with
    // per-stage attrition accounting, all INTEGER comparisons (cross-
    // multiplied ratios) so both engines pass the same documents. One
    // projection pass + one aggregate; each stage's predicate narrows
    // the previous survivors, which is how a 100 TB cleaning job wants
    // to run (single scan, no per-stage materialization).
    Q("q160_filter_funnel",
      (s, d) => {
        val t = TextOps.sparkToks
        Tables.documents(s, d).selectExpr("source", "n_chars",
            "lang IN ('en', 'de', 'es') as s1",
            "n_chars >= 100 as s2",
            s"2 * size(array_distinct($t)) >= size($t) as s3",
            s"""(5 * size(filter($t,
                 tk -> tk IN ('a', 'the', 'of', 'and', 'big', 'small')))
                 <= size($t)
               or aggregate(transform($t, tk -> length(tk)), 0,
                 (a, x) -> a + x) >= 4 * size($t)) as s4""")
          .groupBy("source")
          .agg(count(lit(1)).as("n_in"),
            sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
            sum(when(col("s1") && col("s2"), 1L).otherwise(0L)).as("n2"),
            sum(when(col("s1") && col("s2") && col("s3"), 1L)
              .otherwise(0L)).as("n3"),
            sum(when(col("s1") && col("s2") && col("s3") && col("s4"), 1L)
              .otherwise(0L)).as("n4"),
            sum(when(col("s1") && col("s2") && col("s3") && col("s4"),
              col("n_chars")).otherwise(0L)).as("kept_chars"))
      },
      Some(s"""WITH m AS (SELECT source, n_chars,
              lang IN ('en', 'de', 'es') AS s1,
              n_chars >= 100 AS s2,
              2 * len(list_distinct(${TextOps.duckToks})) >=
                len(${TextOps.duckToks}) AS s3,
              (5 * len(list_filter(${TextOps.duckToks},
                  t -> t IN ('a', 'the', 'of', 'and', 'big', 'small')))
                  <= len(${TextOps.duckToks})
                OR list_reduce([0] || list_transform(${TextOps.duckToks},
                  t -> len(t)), (a, x) -> a + x) >=
                  4 * len(${TextOps.duckToks})) AS s4
              FROM documents)
            SELECT source, count(*) AS n_in,
              CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n2,
              CAST(sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n3,
              CAST(sum(CASE WHEN s1 AND s2 AND s3 AND s4 THEN 1 ELSE 0
                END) AS BIGINT) AS n4,
              CAST(sum(CASE WHEN s1 AND s2 AND s3 AND s4 THEN n_chars
                ELSE 0 END) AS BIGINT) AS kept_chars
            FROM m GROUP BY source"""),
      doc = "staged quality funnel with per-stage attrition, one scan"),

    // Exact substring-span dedup (the window approximation of
    // suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better"): 60-char windows at
    // stride 30; a window whose content appears in >=2 distinct
    // documents marks a duplicated span. Windows are reduced to 60-bit
    // md5 keys IMMEDIATELY (both engines share the same hash, so even
    // collisions agree) — the frequency table and the back-join ship
    // 8-byte keys, never window text. One shuffle to count, one join
    // (AQE broadcasts the dup set when small), one rollup.
    Q("q165_substr_dedup",
      (s, d) => {
        import graft.text.TextOps
        val wins = Tables.documents(s, d)
          .filter(length(col("text")) >= 60)
          .select(col("doc_id"), col("source"),
            explode(expr("sequence(1, length(text) - 59, 30)"))
              .as("pos"), col("text"))
          .select(col("doc_id"), col("source"),
            expr(TextOps.sparkTokHash("substring(text, pos, 60)"))
              .as("k"))
        val dup = wins.groupBy("k")
          .agg(countDistinct("doc_id").as("df"))
          .filter(col("df") >= 2)
          .select(col("k"), lit(1L).as("dup"))
        wins.join(dup, Seq("k"), "left")
          .withColumn("dup", coalesce(col("dup"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_windows"),
            sum("dup").as("dup_windows"),
            countDistinct(when(col("dup") === 1L, col("doc_id")))
              .as("docs_affected"))
      },
      Some(s"""WITH wins AS (SELECT doc_id, source,
              ${graft.text.TextOps.duckTokHash(
                "substr(text, CAST(pos AS INT), 60)")} AS k
              FROM documents,
                unnest(generate_series(1, len(text) - 59, 30)) AS t(pos)),
            freq AS (SELECT k FROM wins GROUP BY k
              HAVING count(DISTINCT doc_id) >= 2),
            marked AS (SELECT wins.*,
              CASE WHEN freq.k IS NULL THEN 0 ELSE 1 END AS dup
              FROM wins LEFT JOIN freq USING (k))
            SELECT source, count(*) AS n_windows,
              CAST(sum(dup) AS BIGINT) AS dup_windows,
              CAST(count(DISTINCT CASE WHEN dup = 1 THEN doc_id END)
                AS BIGINT) AS docs_affected
            FROM marked GROUP BY source"""),
      doc = "exact substring-span dedup via strided window hashing"),

    // DSIR-style importance weighting (Xie et al. 2023 "Data Selection
    // for Language Models via Importance Resampling"): hashed word-
    // bigram features into 256 buckets; per-bucket importance weight =
    // target-count (lang='en' docs) over raw-count, scaled-integer
    // (×1e6, floor div) so both engines agree bit-for-bit. The weight
    // table is 256 rows — broadcast, exactly how a real DSIR pass ships
    // its n-gram weights to executors — and each doc scores as the
    // integer mean weight of its bigrams. Selection is a pure
    // threshold: no rand(), reproducible at any parallelism.
    Q("q166_dsir_importance",
      (s, d) => {
        import graft.text.TextOps
        // Bigrams via posexplode + lead() — NOT a higher-order-function
        // array build: a lambda-built bigram array collapses into the
        // Generate and gets re-evaluated per output row (measured 25×
        // slower), while this shape is one Generate over the token
        // array plus one doc-partitioned window, all codegen-friendly
        // and linear at any corpus size.
        val tk = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"),
            posexplode(expr(TextOps.sparkToks)).as(Seq("pos", "t1")))
        val bg = tk.withColumn("t2", lead("t1", 1).over(
            Window.partitionBy("doc_id").orderBy("pos")))
          .filter(col("t2").isNotNull)
          .select(col("doc_id"), col("source"), col("lang"),
            concat(col("t1"), lit(" "), col("t2")).as("g"))
          .select(col("doc_id"), col("source"), col("lang"),
            expr(s"${TextOps.sparkTokHash("g")} % 256").as("b"))
        // Doc×bucket feature matrix, materialized ONCE (the expensive
        // tokenize+explode never reruns): both the per-bucket count
        // legs and the scoring probe read this ≤256-rows-per-doc
        // table. score = Σ n_b·w_b div Σ n_b ≡ instance-mean weight.
        val db = bg.groupBy("doc_id", "source", "lang", "b")
          .agg(count(lit(1)).as("n")).persist()
        val w = db.groupBy("b").agg(sum("n").as("r"),
            sum(when(col("lang") === "en", col("n")).otherwise(0L))
              .as("tg"))
          .select(col("b"), expr("tg * 1000000 div r").as("w"))
        Graft.collectLocal(db.join(broadcast(w), Seq("b"))
          .groupBy("doc_id", "source", "lang")
          .agg(expr("sum(w * n) div sum(n)").as("score"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score") >= 435000L, 1L).otherwise(0L))
              .as("n_selected"),
            sum("score").as("sum_score")))(db.unpersist())
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, lang,
              regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
            bg AS (SELECT doc_id, source, lang,
              ${graft.text.TextOps.duckTokHash(
                "t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]")}
                % 256 AS b
              FROM toks,
                unnest(generate_series(1, len(t) - 1)) AS g(i)),
            raw AS (SELECT b, count(*) AS r FROM bg GROUP BY b),
            tgt AS (SELECT b, count(*) AS tg FROM bg WHERE lang = 'en'
              GROUP BY b),
            w AS (SELECT raw.b, coalesce(tg, 0) * 1000000 // r AS w
              FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
            scored AS (SELECT doc_id, source, lang,
                sum(w) // count(*) AS score
              FROM bg JOIN w USING (b) GROUP BY 1, 2, 3)
            SELECT source, lang, count(*) AS n_docs,
              CAST(sum(CASE WHEN score >= 435000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
              CAST(sum(score) AS BIGINT) AS sum_score
            FROM scored GROUP BY 1, 2"""),
      doc = "DSIR hashed-bigram importance weights, broadcast + threshold"),

    // Curriculum sharding: an EXACT total order over the corpus by a
    // quality proxy, cut into 16 shards — the ordering pass a
    // curriculum-training pipeline runs before writing shard files.
    // Scale shape: range-partition + in-partition sort gives the
    // physical order, and zipWithIndex assigns exact global ranks with
    // one count-per-partition pass + broadcast offsets (the
    // distributed prefix-sum q103 uses for packing). No single-task
    // window over the corpus anywhere. (RDD use is deliberate:
    // zipWithIndex IS the per-partition offset mechanism.)
    Q("q182_curriculum",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").as("score"))
        val n = docs.count()
        val shards = docs.as[(Long, Long)].rdd
          .map { case (id, sc) => ((sc, id), ()) }
          .sortByKey(ascending = true,
            numPartitions = s.sparkContext.defaultParallelism)
          .zipWithIndex()
          .map { case (((sc, _), _), idx) => (idx * 16L / n, sc) }
        shards.toDF("shard", "score")
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            min("score").as("min_score"), max("score").as("max_score"),
            sum("score").as("sum_score"))
      },
      Some("""WITH r AS (SELECT n_chars AS score,
                row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk
              FROM documents),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT (rk * 16) // n AS shard, count(*) AS n_docs,
              CAST(min(score) AS BIGINT) AS min_score,
              CAST(max(score) AS BIGINT) AS max_score,
              CAST(sum(score) AS BIGINT) AS sum_score
            FROM r, n GROUP BY 1"""),
      doc = "exact curriculum shards: range sort + zipWithIndex ranks"),

    // URL canonicalization + per-domain capping (the CCNet/RefinedWeb
    // crawl-shaping pass): strip fragment, lowercase scheme/host, drop
    // the scheme-default port, strip "www.", trim trailing path slashes,
    // remove tracking query params (utm_*, ref, fbclid, gclid), then
    // exact-dedup on the canonical URL (representative = min doc_id) and
    // cap each registrable domain to its first 10 canonical URLs. The
    // cap runs through TopK.perKey's bounded heap — only O(domains × 10)
    // candidate rows reach the shuffle, never a full window sort — and
    // everything upstream is pure codegen'd string expressions, the
    // shape that holds on a 100 TB crawl. URLs are synthesized
    // deterministically from (source, doc_id) since the test corpus
    // carries none; the canonicalizer itself is general.
    Q("q237_url_canonical",
      (s, d) => {
        val canon = Tables.documents(s, d).selectExpr(
          "doc_id",
          """concat('HTTPS://WWW.', source, doc_id % 7,
              '.Ex', doc_id % 3, '.COM:443/Path', doc_id % 13,
              '/?utm_source=feed', doc_id, '&utm_campaign=c&ref=r',
              doc_id % 5, '#sec', doc_id % 4) as url""")
          .selectExpr("doc_id", "regexp_replace(url, '#.*$', '') as u")
          .selectExpr("doc_id",
            "lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme",
            "regexp_extract(u, '://([^/?]+)', 1) as hostport",
            "regexp_extract(u, '://[^/?]+(/[^?]*)', 1) as path",
            "regexp_extract(u, '\\\\?(.*)$', 1) as qs")
          .selectExpr("doc_id", "scheme", "path", "qs",
            """lower(case
                 when scheme = 'https' then regexp_replace(hostport, ':443$', '')
                 when scheme = 'http' then regexp_replace(hostport, ':80$', '')
                 else hostport end) as host""")
          .selectExpr("doc_id", "scheme", "path", "qs",
            "regexp_replace(host, '^www\\\\.', '') as host")
          .selectExpr("doc_id",
            """concat(scheme, '://', host,
                regexp_replace(path, '/+$', ''),
                case when size(filter(split(qs, '&'),
                    p -> p != '' and not p rlike
                      '^(utm_[A-Za-z]+|ref|fbclid|gclid)=')) > 0
                  then concat('?', array_join(filter(split(qs, '&'),
                    p -> p != '' and not p rlike
                      '^(utm_[A-Za-z]+|ref|fbclid|gclid)='), '&'))
                  else '' end) as canonical""",
            "regexp_extract(host, '([^.]+\\\\.[^.]+)$', 1) as domain")
        val dedup = canon.groupBy("canonical", "domain")
          .agg(min("doc_id").as("rep"), count(lit(1)).as("n"))
        val kept = graft.plans.TopK.perKey(
          dedup.withColumn("neg_rep", -col("rep")),
          Seq("domain"), "neg_rep", "rep", 10)
        dedup.groupBy("domain")
          .agg(count(lit(1)).as("n_urls"), sum("n").as("n_docs"))
          .join(kept.groupBy("domain")
            .agg(count(lit(1)).as("n_kept"),
              sum("rep").as("kept_doc_sum")), Seq("domain"))
      },
      Some("""WITH u AS (SELECT doc_id,
              'HTTPS://WWW.' || source || (doc_id % 7) ||
              '.Ex' || (doc_id % 3) || '.COM:443/Path' || (doc_id % 13) ||
              '/?utm_source=feed' || doc_id || '&utm_campaign=c&ref=r' ||
              (doc_id % 5) || '#sec' || (doc_id % 4) AS url
            FROM documents),
            s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS uu
              FROM u),
            s2 AS (SELECT doc_id,
              lower(regexp_extract(uu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                AS scheme,
              regexp_extract(uu, '://([^/?]+)', 1) AS hostport,
              regexp_extract(uu, '://[^/?]+(/[^?]*)', 1) AS path,
              regexp_extract(uu, '\?(.*)$', 1) AS qs
            FROM s1),
            s3 AS (SELECT doc_id, scheme, path, qs,
              regexp_replace(lower(CASE
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                ELSE hostport END), '^www\.', '') AS host
            FROM s2),
            c AS (SELECT doc_id,
              scheme || '://' || host || regexp_replace(path, '/+$', '') ||
              CASE WHEN len(list_filter(string_split(qs, '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[A-Za-z]+|ref|fbclid|gclid)='))) > 0
                THEN '?' || array_to_string(list_filter(string_split(qs, '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[A-Za-z]+|ref|fbclid|gclid)=')), '&')
                ELSE '' END AS canonical,
              regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
            FROM s3),
            d AS (SELECT canonical, domain, min(doc_id) AS rep,
              count(*) AS n FROM c GROUP BY 1, 2),
            k AS (SELECT *, row_number() OVER
              (PARTITION BY domain ORDER BY rep) AS rn FROM d)
            SELECT domain, count(*) AS n_urls,
              CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(count(CASE WHEN rn <= 10 THEN 1 END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN rn <= 10 THEN rep END) AS BIGINT)
                AS kept_doc_sum
            FROM k GROUP BY 1"""),
      doc = "URL canonicalization + dedup + bounded per-domain cap"),

    // The CCNet/KenLM filter stage: score every document by an n-gram
    // language-model log-probability and keep the fluent tail. Model:
    // word-bigram counts with add-one smoothing, trained here over the
    // corpus itself.
    //
    // DELIBERATE SHAPE — the EXACT-MODEL reference lane, not a perf
    // defect: the model is the full corpus's bigram table, which
    // scales WITH the corpus (zipf tail), so at 100 TB it cannot
    // broadcast and the shuffle joins below are the correct plan for
    // "score against a model too big to ship to every task" (the same
    // reason Spark itself falls back to SortMergeJoin past the
    // broadcast threshold). The 100 TB default lane is q255: sample-
    // trained model-SIZED tables, broadcast joins, map-side scoring,
    // PlanSpec-asserted no-SortMergeJoin — ~2x faster wall-clock here.
    // q243 stays full-shuffle on purpose so both regimes are gated;
    // its >1x-DuckDB bench entry is the price of the exact model, not
    // a plan bug. Scale shape within that regime: bigram instances
    // collapse to per-doc (w1,w2,cnt) rows BEFORE the model joins, so
    // the two shuffle joins move distinct-bigrams-per-doc, not every
    // token position; the w1 join is zipf-skewed ("the" is hot) — AQE
    // skew splitting handles it, and Graft.tune enables AQE. Per-bigram
    // log-probs floor-scale to 1e4 BIGINTs before summing (the repo's
    // scaled-integer parity rule: floor-then-sum makes accumulation
    // order irrelevant; at 1e4 a 1-ulp libm divergence between
    // Math.log and DuckDB's std::log sits ~9 orders of magnitude
    // below the grid).
    Q("q243_lm_perplexity_filter",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 2")
        val bi = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2))) AS b")
          .selectExpr("doc_id", "source", "b.w1 AS w1", "b.w2 AS w2")
        // ONE tokenization pass: the raw bigram stream collapses to the
        // per-doc (w1,w2,cnt) table, and the model (c_ab, c_a) plus the
        // vocabulary all derive from THAT — sums of per-doc counts equal
        // global counts, and every token of a >=2-token doc appears as
        // some bigram's w1 or w2. Without this the corpus would
        // tokenize 4x (once per aggregate). Persisted: four consumers.
        val biDoc = bi.groupBy("doc_id", "source", "w1", "w2")
          .agg(count(lit(1)).as("cnt")).persist()
        biDoc.count()
        val cAb = biDoc.groupBy("w1", "w2").agg(sum("cnt").as("c_ab"))
        val cA = biDoc.groupBy("w1").agg(sum("cnt").as("c_a"))
        val vocab = biDoc.select(col("w1").as("tok"))
          .union(biDoc.select(col("w2").as("tok")))
          .agg(countDistinct("tok").as("v"))
        val scored = biDoc
          .join(cAb, Seq("w1", "w2"))
          .join(cA, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .selectExpr("doc_id", "source", "cnt",
            "cnt * CAST(floor(10000.0 * ln((c_ab + 1.0) / (c_a + v)))" +
              " AS BIGINT) AS lp")
          .groupBy("doc_id", "source")
          .agg(sum("cnt").as("n_bi"), sum("lp").as("lp_sum"))
        Graft.collectLocal(scored.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("lp_sum") >= col("n_bi") * -33900L, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total")))(biDoc.unpersist())
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
            bi AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i + 1])) AS w2
              FROM t2),
            bd AS (SELECT doc_id, source, w1, w2, count(*) AS cnt
              FROM bi GROUP BY 1, 2, 3, 4),
            cab AS (SELECT w1, w2, count(*) AS c_ab
              FROM bi GROUP BY 1, 2),
            ca AS (SELECT w1, count(*) AS c_a FROM bi GROUP BY 1),
            voc AS (SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(toks) AS tok FROM t2)),
            sc AS (SELECT doc_id, source,
              CAST(sum(cnt) AS BIGINT) AS n_bi,
              CAST(sum(cnt * CAST(floor(10000.0 *
                ln((c_ab + 1.0) / (c_a + v))) AS BIGINT)) AS BIGINT)
                AS lp_sum
              FROM bd JOIN cab USING (w1, w2) JOIN ca USING (w1)
              CROSS JOIN voc
              GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n_bi * -33900 THEN 1 END)
                AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
            FROM sc GROUP BY 1"""),
      doc = "CCNet-style bigram-LM perplexity scoring + fluency filter"),

    // q243's 100 TB shape made concrete (the variant its own comment
    // promises): the bigram model trains on a deterministic 1-in-10
    // document sample, then ships to every task as BROADCAST tables —
    // scoring the full corpus is a map-side lookup (two broadcast hash
    // joins inside whole-stage codegen) with NO model-side shuffle of
    // the corpus bigram stream. The single full-corpus exchange left is
    // the per-doc aggregation, which partial-aggregates map-side.
    // Unseen bigrams smooth to (0 + 1)/(c_a + v); unseen w1 to 1/v.
    // PlanSpec asserts the broadcast plan.
    Q("q255_lm_perplexity_bcast",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 2")
        val bi = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2))) AS b")
          .selectExpr("doc_id", "source", "b.w1 AS w1", "b.w2 AS w2")
        // the model IS this table: the sample's bigram stream collapses
        // straight to (w1, w2, c_ab) — model-sized, like q243's biDoc —
        // and c_a / vocab derive from it. Collected to a driver literal
        // (the broadcast ships the rows anyway) so nothing stays cached
        // after the lane; persisting the raw exploded sample instead
        // would cache corpus-scale rows that outlive the query and
        // pressure every later one in the session.
        val sp = s; import sp.implicits._
        val mrows = bi.where("doc_id % 10 = 0")
          .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
          .as[(String, String, Long)].collect()
        boundedModel(mrows.length, "q255_lm_perplexity_bcast")
        val cAb = mrows.toSeq.toDF("w1", "w2", "c_ab")
        // c_a / vocab computed driver-side from the collected model
        // (LOCAL relations broadcast with no distributed job — the
        // q340 r17 shape; identical integer counts)
        val cA = mrows.toSeq.groupBy(_._1).toSeq
          .map { case (w1, rs) => (w1, rs.map(_._3).sum) }
          .toDF("w1", "c_a")
        val vocab = Seq((mrows.iterator.map(_._1) ++
          mrows.iterator.map(_._2)).toSet.size.toLong).toDF("v")
        bi.join(broadcast(cAb), Seq("w1", "w2"), "left")
          .join(broadcast(cA), Seq("w1"), "left")
          .crossJoin(broadcast(vocab))
          .selectExpr("doc_id", "source",
            "CAST(floor(10000.0 * ln((coalesce(c_ab, 0) + 1.0) / " +
              "(coalesce(c_a, 0) + v))) AS BIGINT) AS lp")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_bi"), sum("lp").as("lp_sum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("lp_sum") >= col("n_bi") * -33900L, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
            bi AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i + 1])) AS w2
              FROM t2),
            smp AS (SELECT w1, w2 FROM bi WHERE doc_id % 10 = 0),
            cab AS (SELECT w1, w2, count(*) AS c_ab
              FROM smp GROUP BY 1, 2),
            ca AS (SELECT w1, count(*) AS c_a FROM smp GROUP BY 1),
            voc AS (SELECT count(DISTINCT tok) AS v FROM (
              SELECT w1 AS tok FROM smp
              UNION ALL SELECT w2 FROM smp) u),
            sc AS (SELECT doc_id, source,
              CAST(count(*) AS BIGINT) AS n_bi,
              CAST(sum(CAST(floor(10000.0 *
                ln((coalesce(c_ab, 0) + 1.0) /
                    (coalesce(c_a, 0) + v))) AS BIGINT)) AS BIGINT)
                AS lp_sum
              FROM bi LEFT JOIN cab USING (w1, w2)
              LEFT JOIN ca USING (w1)
              CROSS JOIN voc
              GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n_bi * -33900 THEN 1 END)
                AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
            FROM sc GROUP BY 1"""),
      doc = "bigram-LM scoring with a sample-trained BROADCAST model" +
        " (q243's 100 TB path)"),

    // BM25 sparse retrieval (Robertson/Spärck Jones; the ranking the
    // reference's IMT client "-T" top-N sorts are a degenerate form of,
    // and the lexical half of every RAG/dedup-audit pipeline). Scale
    // shape: the query set is MODEL-sized → broadcast-join it against
    // the exploded token stream FIRST, so only query-term postings ever
    // reach an aggregation (at 100 TB the corpus pass is one map-side
    // tokenize+filter); df/N/avgdl are tiny aggregates; the final
    // per-query top-k runs through TopK.perKey's bounded heap, not a
    // window sort (every doc matches some query term here — a window
    // would sort the whole corpus on 6 reducers). Scoring is quantized
    // floor(1e4·idf·tf_norm) per posting — identical FP expression text
    // in both dialects, the q243-proven parity recipe.
    Q("q313_bm25_retrieval",
      (s, d) => {
        val qterms: Seq[(Long, String)] = Seq(
          0L -> "spark", 0L -> "join",
          1L -> "fast", 1L -> "filter", 1L -> "query",
          2L -> "window", 2L -> "agg",
          3L -> "stream", 3L -> "merge",
          4L -> "slow", 4L -> "scan", 4L -> "hash",
          5L -> "batch", 5L -> "table")
        val sp = s
        import sp.implicits._
        val q = qterms.toDF("query_id", "term")
        val tokd = Tables.documents(s, d)
          .selectExpr("doc_id", s"${TextOps.sparkToks} AS toks")
        val stats = tokd.selectExpr("size(toks) AS dl")
          .agg(count(lit(1)).as("n_docs"),
            sum("dl").as("sum_dl"))
        val tf = tokd
          .selectExpr("doc_id", "size(toks) AS dl",
            "explode(toks) AS term")
          .join(broadcast(q), Seq("term"))
          .groupBy("query_id", "term", "doc_id", "dl")
          .agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy("term")
          .agg(countDistinct("doc_id").as("df_t"))
        val scored = tf
          .join(broadcast(df_), Seq("term"))
          .crossJoin(broadcast(stats))
          .selectExpr("query_id", "doc_id",
            "CAST(floor(10000.0 * ln(1.0 + (n_docs - df_t + 0.5) / " +
              "(df_t + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * " +
              "(CAST(dl AS DOUBLE) * n_docs / sum_dl)))) AS BIGINT) AS sc")
          .groupBy("query_id", "doc_id")
          .agg(sum("sc").as("score"))
        graft.plans.TopK.perKey(scored, Seq("query_id"),
          orderCol = "score", tiebreakCol = "doc_id", k = 3)
      },
      Some(s"""WITH qt(query_id, term) AS (VALUES
              (0, 'spark'), (0, 'join'),
              (1, 'fast'), (1, 'filter'), (1, 'query'),
              (2, 'window'), (2, 'agg'),
              (3, 'stream'), (3, 'merge'),
              (4, 'slow'), (4, 'scan'), (4, 'hash'),
              (5, 'batch'), (5, 'table')),
            t AS (SELECT doc_id, ${TextOps.duckToks} AS toks
              FROM documents),
            st AS (SELECT count(*) AS n_docs,
              CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM t),
            tok AS (SELECT doc_id, len(toks) AS dl,
              unnest(toks) AS term FROM t),
            tf AS (SELECT query_id, term, doc_id, dl,
              CAST(count(*) AS BIGINT) AS tf
              FROM tok JOIN qt USING (term) GROUP BY 1, 2, 3, 4),
            dft AS (SELECT term, count(DISTINCT doc_id) AS df_t
              FROM tf GROUP BY 1),
            sc AS (SELECT query_id, doc_id,
              CAST(sum(CAST(floor(10000.0 * ln(1.0 + (n_docs - df_t
                + 0.5) / (df_t + 0.5)) * (tf * 2.2) / (tf + 1.2 *
                (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs /
                sum_dl)))) AS BIGINT)) AS BIGINT) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN st
              GROUP BY 1, 2),
            rk AS (SELECT query_id, doc_id, score, row_number() OVER
                (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rnk
              FROM sc)
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score
            FROM rk WHERE rnk <= 3"""),
      doc = "BM25 sparse retrieval: broadcast query terms prune the " +
        "token stream map-side; bounded-heap top-k per query"),

    // Exact substring dedup via distributed suffix prefix-doubling —
    // the Lee-et-al. "Deduplicating Training Data Makes Language
    // Models Better" shape done EXACTLY, where q165 approximates with
    // strided windows. Every suffix position gets an equality-class id
    // per doubling round: r_j(pos) keys the 2^j-token window at pos, so
    // after round j, two positions share r_j iff their windows are
    // IDENTICAL. No global sort is needed for dedup (only the *array*
    // order would need it): a class id only has to be injective per
    // window value. And because a training corpus's windows never
    // cross document boundaries, the whole doubling recursion is
    // ROW-LOCAL: each round is one Catalyst array-transform over the
    // doc's rank arrays (whole-stage codegen, zero exchanges) — the
    // only shuffles in the lane are the three class-counting
    // aggregations at the probe windows. O(n log w) work total; at
    // 100 TB this is a pure map lane plus three hash aggs, and the
    // exploded-positions/self-join variant of the same recursion is
    // what you would switch to if single documents outgrew rows.
    // Out-of-range halves (suffix shorter than the window) take a
    // unique negative id, so short suffixes stay singletons and never
    // fake a duplicate. The gate reads the dup profile at w=8/16/32
    // (distinct duplicated windows, positions inside them, docs
    // affected) — the oracle recomputes all three by brute-force
    // window-string grouping, so any defect in the doubling recursion
    // shows as a count drift.
    Q("q315_suffix_prefix_doubling",
      (s, d) => {
        // Equality-class ids are a 128-bit MIX PAIR (two independent
        // splitmix64 lanes). A pair collision would merge two distinct
        // windows and drift every downstream count, so the brute-force
        // oracle below doubles as the collision check; the bit-exact
        // alternative (class id = min pos over the class) costs a
        // sorted exchange per round. Token hashes come from the SHARED
        // TextOps expression (dialect-paired with the oracle); the
        // doubling recursion runs per document inside one typed
        // flatMap — expressing it as nested Catalyst lambdas doubles
        // the expression tree per round (each rank references the
        // previous one four times), which is exponential at plan time.
        val sp = s
        import sp.implicits._
        // CPU-bound per-doc chain: spread it over every core even when
        // the scan yields few input splits (test-data artifact; a real
        // 100 TB scan has thousands of tasks and the repartition is a
        // cheap doc_id+text reshuffle either way)
        val th = Tables.documents(s, d).select("doc_id", "text")
          .repartition(s.sparkContext.defaultParallelism)
          .selectExpr("doc_id AS doc",
            s"transform(${TextOps.sparkToks}, " +
              s"t -> ${TextOps.sparkTokHash("t")}) AS hs")
          .as[(Long, Seq[Long])]
        val cells = th.flatMap { case (doc, hsSeq) =>
          val out = scala.collection.mutable
            .ArrayBuffer[(Long, Long, Long, Long, Long)]()
          graft.text.SuffixClasses
            .probeRanks(doc, hsSeq.toArray, Seq(3, 4, 5))
            .foreach { case (j, ra, rb) =>
              // pre-aggregate (class → positions) inside the doc: the
              // shuffle carries one row per DISTINCT window per doc,
              // and within-doc self-repeats collapse before the wire.
              // Boxed values: a java map's miss returns null, and
              // null.asInstanceOf[Long] silently unboxes to 0
              val w = (1 << j).toLong
              val m = new java.util.HashMap[(Long, Long),
                java.lang.Long]()
              var p = 0
              while (p < ra.length) {
                val k2 = (ra(p), rb(p))
                val prev = m.get(k2)
                m.put(k2, if (prev == null) 1L else prev + 1L)
                p += 1
              }
              m.forEach((k2, v) =>
                out += ((w, doc, k2._1, k2._2, v.longValue)))
            }
          out
        }.toDF("w", "doc", "ka", "kb", "npd")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // (w, class, doc) cells: dup classes span >= 2 docs. Windows
        // and positions come straight off the class aggregate; only
        // docs_affected joins back, against the BROADCAST dup-class
        // set (model-sized — it is the dedup report itself). cells is
        // persisted across its two consumers and dropped before return.
        val byClass = cells.groupBy("w", "ka", "kb")
          .agg(count(lit(1)).as("nd"), sum("npd").as("np"))
          .filter(col("nd") >= 2)
          .persist()
        val wp = byClass.groupBy("w")
          .agg(count(lit(1)).as("dup_windows"),
            sum("np").as("dup_positions"))
        val affected = cells
          .join(broadcast(byClass.select("w", "ka", "kb")),
            Seq("w", "ka", "kb"))
          .groupBy("w").agg(countDistinct("doc").as("docs_affected"))
        val res = wp.join(affected, Seq("w"))
          .select("w", "dup_windows", "dup_positions", "docs_affected")
          .collect()
        byClass.unpersist()
        cells.unpersist()
        res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
          .toDF("w", "dup_windows", "dup_positions", "docs_affected")
      },
      Some(s"""WITH th AS (SELECT doc_id,
              list_transform(${TextOps.duckToks},
                t -> ${TextOps.duckTokHash("t")}) AS hs
              FROM documents),
            ws(w) AS (VALUES (8), (16), (32)),
            wins AS (SELECT w, doc_id,
              unnest(list_transform(range(1, greatest(len(hs) - w + 2, 1)),
                i -> list_aggr(list_transform(list_slice(hs, i, i + w - 1),
                  x -> CAST(x AS VARCHAR)), 'string_agg', ','))) AS win
              FROM th, ws),
            grp AS (SELECT w, win, count(DISTINCT doc_id) AS nd,
                count(*) AS np
              FROM wins GROUP BY 1, 2),
            dup AS (SELECT w, win, np FROM grp WHERE nd >= 2),
            aff AS (SELECT wi.w, count(DISTINCT wi.doc_id) AS da
              FROM wins wi JOIN dup d_ ON wi.w = d_.w AND wi.win = d_.win
              GROUP BY 1)
            SELECT CAST(g.w AS BIGINT) AS w, count(*) AS dup_windows,
              CAST(sum(g.np) AS BIGINT) AS dup_positions,
              CAST(coalesce(max(a.da), 0) AS BIGINT) AS docs_affected
            FROM dup g LEFT JOIN aff a ON a.w = g.w GROUP BY 1"""),
      doc = "exact substring dedup via distributed suffix " +
        "prefix-doubling (Lee et al. exact, vs q165's approximation)"),

    // Distributed full-batch logistic-regression trainer — the
    // fastText-style learned quality/language filter as a pipeline
    // operator (q306's nearest-centroid sibling, but an actual
    // gradient trainer). Numerics are built for oracle parity: weights
    // live as 1e6-SCALED BIGINTs, features are 0/1 presence of the 8
    // token-hash buckets plus bias, so the margin z = x·W and every
    // gradient accumulation are EXACT integer sums (order-independent
    // under any parallelism — the one thing naive FP gradient sums are
    // not). The only nonlinearity, sigmoid(z/1e6), quantizes to an
    // integer residual per doc before summation (the q243 ln recipe).
    // Each of the 3 epochs is one 9-integer partial aggregate over the
    // corpus with the weight vector broadcast as literals — the
    // textbook distributed full-batch GD shape; at 100 TB each epoch
    // is a map + tiny agg, no shuffle wider than 9 longs.
    Q("q316_logreg_trainer",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val dims = 8
        val lr2 = 64L // step 1/lr2
        val epochs = 24
        val feats = Tables.documents(s, d).selectExpr(
            "CASE WHEN n_chars > 300 THEN 1L ELSE 0L END AS y",
            "source",
            s"transform(${TextOps.sparkToks}, " +
              s"t -> ${TextOps.sparkTokHash("t")} % $dims) AS bs")
          .selectExpr(Seq("y", "source") ++
            (0 until dims).map(j =>
              s"CAST(size(filter(bs, b -> b = ${j}L)) AS BIGINT) AS x$j") :+
            "8L AS x8": _*) // scaled bias: conditions GD against the
          // count features (|x_j| ~ tokens/8), else the intercept
          // crawls and full-batch GD oscillates for any usable step
          .persist() // one row per doc: 10 small ints
        val n = feats.count()
        // r18: the 24 epoch plans re-analyzed/optimized feats' FULL
        // featurize lineage every epoch (the execution hit the cache,
        // but Catalyst walked the whole tree 24x — the lane's cold
        // driver gap). Rooting the epoch loop at the persisted RDD
        // truncates each epoch plan to scan+project+agg; same rows,
        // same cache, no recomputation.
        val featsR = s.createDataFrame(feats.rdd, feats.schema)
        var w = Array.fill(dims + 1)(0L) // 1e6-scaled
        // r18 (VERDICT r17 #4): the weight vector rides into each epoch
        // as a ONE-ROW broadcast array instead of per-epoch literals.
        // The arithmetic is identical (x_j * wv[j+1] on the same
        // longs), but the epoch plan — and therefore its generated
        // code — is now IDENTICAL across all 24 epochs, so janino
        // compiles it once and the codegen cache serves the rest
        // (per-epoch literals made every epoch a distinct compilation
        // unit: LaneProfile cold 7.9 s vs warm 3.2 s was codegen).
        val z = (0 to dims).map(j =>
          s"x$j * element_at(wv, ${j + 1})").mkString(" + ")
        val gSel = (s"CAST(floor(1000000.0 * (y - 1.0 / (1.0 + " +
          s"exp(-($z) / 1000000.0)))) AS BIGINT) AS r") +:
          (0 to dims).map(j => s"x$j")
        // Lane-local: each epoch is one no-key partial+final agg whose
        // shape AQE cannot improve (1-row output), but AQE turns every
        // epoch action into two scheduled jobs with a driver round-trip
        // between — 24 extra round-trips per run.
        Graft.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
          for (_ <- 1 to epochs) {
            val wdf = Seq(Tuple1(w.toSeq)).toDF("wv")
            // integer residual: floor(1e6 * (y - sigmoid(z / 1e6)))
            val g = featsR.crossJoin(broadcast(wdf))
              .selectExpr(gSel: _*)
              .selectExpr((0 to dims).map(j =>
                s"CAST(sum(x$j * r) AS BIGINT) AS g$j"): _*)
              .head()
            w = (0 to dims).map(j => w(j) +
              math.floor(g.getLong(j) / (lr2.toDouble * n)).toLong).toArray
          }
        }
        val zf = (0 to dims).map(j => s"x$j * ${w(j)}L").mkString(" + ")
        val acc = feats.selectExpr("source", "y",
            s"CASE WHEN ($zf) > 0 THEN 1L ELSE 0L END AS yhat")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(y = yhat AS BIGINT)")).as("n_correct"))
          .selectExpr("'acc' AS kind", "source AS key", "n",
            "n_correct AS val")
        feats.unpersist()
        val wRows = (0 to dims).map(j => ("w", s"w$j", 1L, w(j)))
          .toDF("kind", "key", "n", "val")
        acc.unionByName(wRows)
      },
      Some {
        val dims = 8
        val lr2 = 64
        val epochs = 24
        val xcols = (0 until dims).map(j =>
          s"CAST(len(list_filter(bs, b -> b = $j)) AS BIGINT) AS x$j")
          .mkString(", ") + ", 8::BIGINT AS x8"
        def zExpr(wAlias: String) = (0 to dims).map(j =>
          s"x$j * (SELECT w$j FROM $wAlias)").mkString(" + ")
        def gSel = (0 to dims).map(j =>
          s"CAST(sum(x$j * r) AS BIGINT) AS g$j").mkString(", ")
        def wNext(prev: String, git: String) = (0 to dims).map(j =>
          s"(SELECT w$j FROM $prev) + CAST(floor((SELECT g$j FROM " +
            s"$git) / ($lr2.0 * (SELECT n FROM nn))) AS BIGINT) AS w$j")
          .mkString(", ")
        def rSel(wAlias: String) =
          s"CAST(floor(1000000.0 * (y - 1.0 / (1.0 + " +
            s"exp(-(${zExpr(wAlias)}) / 1000000.0)))) AS BIGINT) AS r"
        // epoch chain g1/w1 .. g24/w24, every layer MATERIALIZED —
        // inlined CTEs would re-expand the previous epoch once per
        // weight reference and the plan goes exponential
        val chain = (1 to epochs).map { t =>
          s"""g$t AS MATERIALIZED (SELECT $gSel FROM
              (SELECT ${rSel(s"w${t - 1}")}, * FROM fx)),
            w$t AS MATERIALIZED (SELECT ${wNext(s"w${t - 1}", s"g$t")})"""
        }.mkString(",\n            ")
        s"""WITH f AS (SELECT
              CASE WHEN n_chars > 300 THEN 1::BIGINT ELSE 0::BIGINT END
                AS y, source,
              list_transform(${TextOps.duckToks},
                t -> ${TextOps.duckTokHash("t")} % $dims) AS bs
              FROM documents),
            fx AS MATERIALIZED (SELECT y, source, $xcols FROM f),
            nn AS MATERIALIZED (SELECT count(*) AS n FROM fx),
            w0 AS MATERIALIZED (SELECT ${(0 to dims)
                .map(j => s"0::BIGINT AS w$j").mkString(", ")}),
            $chain
            SELECT 'acc' AS kind, source AS key, count(*) AS n,
              CAST(sum(CAST(CAST((${zExpr(s"w$epochs")}) > 0 AS BIGINT)
                = y AS BIGINT)) AS BIGINT) AS val
            FROM fx GROUP BY 1, 2
            UNION ALL
            ${(0 to dims).map(j => s"SELECT 'w', 'w$j', 1, " +
              s"(SELECT w$j FROM w$epochs)").mkString(" UNION ALL ")}"""
      },
      doc = "distributed full-batch logistic-regression trainer: " +
        "scaled-integer weights, exact integer gradient sums, " +
        "quantized sigmoid residuals (oracle-reproducible GD)"),

    // Quality-ensemble filtering (ROADMAP r12 #3; the FineWeb/CCNet
    // pattern): a document survives iff >= 2 of 3 INDEPENDENT quality
    // signals pass — the MODIFIED Kneser-Ney TRIGRAM perplexity gate
    // (q334's model and the -36000 threshold — the vote tracks the
    // production KenLM default, VERDICT r13 #6; before that q328's
    // fixed-D trigram, before that the add-1 bigram), the heuristic
    // quality score (q36's >= 0.6), and the type-token-ratio
    // repetition gate (q107's 0.5, compared exactly as 2*types >=
    // tokens so no FP threshold exists). Scale shape: ONE tokenize
    // pass feeds all three signals; the LM model is sample-trained,
    // model-sized, and broadcast; everything else is per-row
    // expressions and one final per-lang aggregation. The composition
    // is the point: single filters each pass ~60-99% of docs, and the
    // 2-of-3 vote is what production corpora actually ship (a lone
    // signal's false positives survive any threshold).
    Q("q322_quality_ensemble",
      (s, d) => {
        // the heuristic features ride ALONG the trigram rows and come
        // back out of the per-doc aggregation as first()s — re-keying
        // LM scores onto the feature table would be a corpus×corpus
        // doc_id join (the PlanAudit sweep flagged the SMJ); carrying
        // them through costs three small columns on the shuffle rows
        // and zero joins
        val feat = Tables.documents(s, d)
          .selectExpr("doc_id", "lang", s"${TextOps.sparkToks} AS toks")
          .selectExpr("doc_id", "lang", "toks",
            s"${TextOps.sparkQualityOf("toks")} AS q",
            "size(toks) AS ntok",
            "size(array_distinct(toks)) AS ntype")
        val tri = feat.where("size(toks) >= 3")
          .selectExpr("doc_id", "lang", "q", "ntok", "ntype",
            "explode(transform(sequence(1, size(toks) - 2), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2, " +
              "element_at(toks, i + 2) AS w3))) AS tg")
          .selectExpr("doc_id", "lang", "q", "ntok", "ntype",
            "tg.w1 AS w1", "tg.w2 AS w2", "tg.w3 AS w3")
        // model-sized (distinct sample trigrams): computed ONCE and
        // collected to a driver literal — the broadcast ships these
        // rows anyway, and unlike a persist() the literal cannot
        // outlive the lane and accumulate across a bench session
        // (ADVICE r12; the builder has no final action to hang an
        // unpersist on — actions run in Verify/Bench). The vote runs
        // q334's MODIFIED-KN model (VERDICT r13 #6: the vote tracks
        // the production default) — UNPRUNED counts, since the
        // per-bucket discounts are estimated from raw count-of-counts.
        val sp = s; import sp.implicits._
        val mrows = tri.where("doc_id % 10 = 0").select("w1", "w2", "w3")
          .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
          .as[(String, String, String, Long)].collect()
        boundedModel(mrows.length, "q322_quality_ensemble")
        val typN2 = mrows.groupBy(r => (r._2, r._3)).view
          .mapValues(_.size.toLong).toMap
        val cocOf = (vs: Iterator[Long]) => {
          val m = vs.toSeq.groupBy(identity).view.mapValues(_.size.toLong)
          (1L to 4L).map(k => m.getOrElse(k, 0L))
        }
        val ct = mrows.toSeq.toDF("w1", "w2", "w3", "c3")
        val cocT = cocOf(mrows.iterator.map(_._4))
        val cocM = cocOf(typN2.valuesIterator)
        require(cocT(0) > 0 && cocT(1) > 0 && cocT(2) > 0 &&
          cocM(0) > 0 && cocM(1) > 0 && cocM(2) > 0,
          s"degenerate count-of-counts: $cocT $cocM")
        // count-table legs computed driver-side from the collected
        // model (LOCAL relations broadcast with no distributed job —
        // the q340 r17 shape; identical integer counts)
        def coc3(vals: Iterable[Long]): (Long, Long, Long, Long) = (
          vals.sum, vals.count(_ == 1L).toLong,
          vals.count(_ == 2L).toLong, vals.count(_ >= 3L).toLong)
        val ctx = mrows.toSeq.groupBy(r => (r._1, r._2)).toSeq
          .map { case ((w1, w2), rs) =>
            val (su, f1, f2, f3p) = coc3(rs.map(_._4))
            (w1, w2, su, f1, f2, f3p) }
          .toDF("w1", "w2", "c2", "nf1", "nf2", "nf3p")
        val typ = typN2.toSeq
          .map { case ((w2, w3), n2) => (w2, w3, n2) }
          .toDF("w2", "w3", "n2")
        val mctx = typN2.toSeq.groupBy(_._1._1).toSeq
          .map { case (w2, es) =>
            val (su, f1, f2, f3p) = coc3(es.map(_._2))
            (w2, su, f1, f2, f3p) }
          .toDF("w2", "dsum", "m1", "m2", "m3p")
        val low = typN2.keysIterator.toSeq.groupBy(_._2).toSeq
          .map { case (w3, ks) => (w3, ks.size.toLong) }
          .toDF("w3", "nb")
        val bt = Seq(typN2.size.toLong).toDF("b")
        val scored = tri
          .join(broadcast(ct), Seq("w1", "w2", "w3"), "left")
          .join(broadcast(ctx), Seq("w1", "w2"), "left")
          .join(broadcast(typ), Seq("w2", "w3"), "left")
          .join(broadcast(mctx), Seq("w2"), "left")
          .join(broadcast(low), Seq("w3"), "left")
          .crossJoin(broadcast(bt))
          .selectExpr("doc_id", "lang", "q", "ntok", "ntype",
            KnModified.sparkLp(cocT(0), cocT(1), cocT(2), cocT(3),
              cocM(0), cocM(1), cocM(2), cocM(3)))
          .groupBy("doc_id")
          .agg(first("lang").as("lang"), first("q").as("q"),
            first("ntok").as("ntok"), first("ntype").as("ntype"),
            count(lit(1)).as("n_tri"), sum("lp").as("lp_sum"))
          .selectExpr("doc_id", "lang", "q", "ntok", "ntype",
            "CASE WHEN lp_sum >= n_tri * -36000 THEN 1L ELSE 0L END" +
              " AS s_lm")
        // < 3 tokens: no trigrams, no LM evidence — union the short
        // docs back with s_lm = 0 (a filter leg, not a join)
        scored.unionByName(feat.where("size(toks) < 3")
            .selectExpr("doc_id", "lang", "q", "ntok", "ntype",
              "0L AS s_lm"))
          .withColumn("s_q", when(col("q") >= 0.6, 1L).otherwise(0L))
          // TTR >= 0.5 exactly: 2*types >= tokens (empty docs pass —
          // q107 defines their TTR as 1.0)
          .withColumn("s_ttr",
            when(col("ntok") === 0 || col("ntype") * 2 >= col("ntok"),
              1L).otherwise(0L))
          .withColumn("keep",
            col("s_lm") + col("s_q") + col("s_ttr") >= 2L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("s_lm").as("n_lm"), sum("s_q").as("n_q"),
            sum("s_ttr").as("n_ttr"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
            sum(when(col("keep"), col("ntok")).otherwise(0L))
              .as("kept_tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
              ${TextOps.duckToks} AS toks FROM documents),
            tri AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 1])) AS w2,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 2])) AS w3
              FROM t WHERE len(toks) >= 3),
            ${KnModified.duckModelCtes}
            lm AS (SELECT tri.doc_id,
              CASE WHEN CAST(sum(${KnModified.duckLp}) AS BIGINT)
                >= count(*) * -36000 THEN 1 ELSE 0 END AS s_lm
              FROM ${KnModified.duckJoins}
              GROUP BY 1),
            f AS (SELECT t.doc_id, t.lang,
              ${TextOps.duckQuality.replace(TextOps.duckToks, "toks")}
                AS q,
              len(toks) AS ntok,
              len(list_distinct(toks)) AS ntype,
              coalesce(lm.s_lm, 0) AS s_lm
              FROM t LEFT JOIN lm ON lm.doc_id = t.doc_id),
            v2 AS (SELECT lang, ntok, s_lm,
              CASE WHEN q >= 0.6 THEN 1 ELSE 0 END AS s_q,
              CASE WHEN ntok = 0 OR ntype * 2 >= ntok
                THEN 1 ELSE 0 END AS s_ttr
              FROM f)
            SELECT lang, count(*) AS n_docs,
              CAST(sum(s_lm) AS BIGINT) AS n_lm,
              CAST(sum(s_q) AS BIGINT) AS n_q,
              CAST(sum(s_ttr) AS BIGINT) AS n_ttr,
              CAST(sum(CASE WHEN s_lm + s_q + s_ttr >= 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
              CAST(sum(CASE WHEN s_lm + s_q + s_ttr >= 2
                THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM v2 GROUP BY 1"""),
      doc = "2-of-3 quality-ensemble filter: broadcast bigram-LM " +
        "gate + heuristic score + exact-integer TTR vote, one " +
        "tokenize pass"),

    // Interpolated Kneser-Ney bigram LM (Kneser/Ney 1995; the KenLM
    // smoothing CCNet-style corpus filters actually run — q243/q255's
    // add-1 model is the reference baseline, this is the production
    // math). With discount D = 3/4 every probability is an exact
    // integer rational:
    //   P(w2|w1) = [max(4c−3, 0)·B + 3·Nf(w1)·Nb(w2)] / (4·c(w1)·B)
    // where Nf/Nb are the forward/backward continuation type counts
    // and B the distinct-bigram count — so both engines divide the
    // SAME two integers and the quantized floor(10000·ln(p)) is
    // bit-identical. Unseen-history backoff is the continuation
    // distribution Nb(w2)/B (KN's whole point: "how many contexts has
    // w2 completed", not "how often was w2 seen"); a 1-numerator floor
    // keeps OOV tokens finite, documented convention. Scale shape is
    // q255's: the model is sample-trained, model-sized (four count
    // tables derive from one persisted bigram table) and broadcast —
    // the corpus pass is map-side joins + one aggregation.
    Q("q323_kneser_ney_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 2")
        val bi = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 1), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2))) AS bg")
          .selectExpr("doc_id", "source", "bg.w1 AS w1", "bg.w2 AS w2")
        // model-sized (distinct sample bigrams) → driver literal, not
        // persist(): the four count-table derivations read the local
        // frame and nothing is left cached after the lane (ADVICE r12)
        val sp = s; import sp.implicits._
        val mrows = bi.where("doc_id % 10 = 0")
          .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
          .as[(String, String, Long)].collect()
        boundedModel(mrows.length, "q323_kneser_ney_lm")
        val cAb = mrows.toSeq.toDF("w1", "w2", "c")
        // count-table legs computed driver-side from the collected
        // model (LOCAL relations broadcast with no distributed job —
        // the q340 r17 shape; identical integer counts)
        val c1 = mrows.toSeq.groupBy(_._1).toSeq
          .map { case (w1, rs) => (w1, rs.map(_._3).sum) }
          .toDF("w1", "c1")
        val nf = mrows.toSeq.groupBy(_._1).toSeq
          .map { case (w1, rs) => (w1, rs.size.toLong) }
          .toDF("w1", "nf")
        val nb = mrows.toSeq.groupBy(_._2).toSeq
          .map { case (w2, rs) => (w2, rs.size.toLong) }
          .toDF("w2", "nb")
        val bt = Seq(mrows.length.toLong).toDF("b")
        bi.join(broadcast(cAb), Seq("w1", "w2"), "left")
          .join(broadcast(c1), Seq("w1"), "left")
          .join(broadcast(nf), Seq("w1"), "left")
          .join(broadcast(nb), Seq("w2"), "left")
          .crossJoin(broadcast(bt))
          .selectExpr("doc_id", "source",
            """CAST(floor(10000.0 * ln(CASE WHEN c1 IS NOT NULL THEN
                 cast(greatest(greatest(4 * coalesce(c, 0L) - 3, 0L)
                     * b + 3 * coalesce(nf, 0L) * coalesce(nb, 0L),
                   1L) as double) / cast(4 * c1 * b as double)
               ELSE cast(greatest(coalesce(nb, 0L), 1L) as double)
                 / cast(4 * b as double) END)) AS BIGINT) AS lp""")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_bi"), sum("lp").as("lp_sum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("lp_sum") >= col("n_bi") * -38000L, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
            bi AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks)),
                i -> toks[i + 1])) AS w2
              FROM t2),
            smp AS (SELECT w1, w2 FROM bi WHERE doc_id % 10 = 0),
            cab AS (SELECT w1, w2, count(*) AS c FROM smp GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM cab
              GROUP BY 1),
            nf AS (SELECT w1, count(*) AS nf FROM cab GROUP BY 1),
            nb AS (SELECT w2, count(*) AS nb FROM cab GROUP BY 1),
            bt AS (SELECT count(*) AS b FROM cab),
            sc AS (SELECT doc_id, source, count(*) AS n_bi,
              CAST(sum(CAST(floor(10000.0 * ln(
                CASE WHEN c1.c1 IS NOT NULL THEN
                  greatest(greatest(4 * coalesce(cab.c, 0) - 3, 0)
                      * bt.b
                    + 3 * coalesce(nf.nf, 0) * coalesce(nb.nb, 0),
                    1)::DOUBLE
                  / (4 * c1.c1 * bt.b)
                ELSE greatest(coalesce(nb.nb, 0), 1)::DOUBLE
                  / (4 * bt.b) END)) AS BIGINT)) AS BIGINT) AS lp_sum
              FROM bi LEFT JOIN cab USING (w1, w2)
              LEFT JOIN c1 USING (w1) LEFT JOIN nf USING (w1)
              LEFT JOIN nb ON nb.w2 = bi.w2 CROSS JOIN bt
              GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n_bi * -38000 THEN 1 END)
                AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
            FROM sc GROUP BY 1"""),
      doc = "interpolated Kneser-Ney bigram LM (D=3/4, exact integer " +
        "rationals, continuation-count backoff) — the KenLM-fidelity " +
        "twin of q255's add-1 baseline"),

    // Interpolated Kneser-Ney TRIGRAM LM (VERDICT r12 #4: the KenLM
    // order ladder, one step up from q323) — production LM filters run
    // order ≥3; the recursion is Chen & Goodman's interpolated form
    // with D = 3/4 at every level:
    //   P(w3|w1w2) = max(c3−D,0)/c2 + D·Nf3(w1w2)/c2 · Pmid(w3|w2)
    //   Pmid(w3|w2) = max(n2−D,0)/D2(w2) + D·Nmid(w2)/D2(w2) · Plow(w3)
    //   Plow(w3) = nb(w3)/B
    // where n2 = N1+(·w2w3) (continuation type counts — KN's "how many
    // contexts has this completed", not "how often seen"), D2 = Σ n2,
    // nb counts distinct predecessors among (w2,w3) types and B the
    // distinct types. Every FACTOR is an exact integer; the three
    // levels combine in ONE fixed double expression mirrored
    // parenthesis-for-parenthesis in the oracle, so both engines
    // evaluate identical IEEE doubles and the quantized floor(10000·ln)
    // is bit-identical (a single integer rational overflows BIGINT at
    // 100× here — 4c2·4D2·B — which is why the combination happens in
    // doubles, unlike the bigram lane). Unseen bigram context backs
    // off to the middle level, unseen middle word to the continuation
    // unigram, with q323's 1-numerator OOV floor. Scale shape: the
    // model is sample-trained, SINGLETON-PRUNED (c3 >= 2, the KenLM
    // prune — VERDICT r13 #5; hapaxes dominate a zipf tail, so the
    // pruned type table grows sublinearly in corpus tokens), collected
    // to a driver literal under boundedModel's loud 4M-row ceiling (it
    // broadcasts anyway, nothing stays cached), and the corpus pass is
    // five broadcast joins + one aggregation.
    Q("q328_kn_trigram",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 3")
        val tri = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 2), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2, " +
              "element_at(toks, i + 2) AS w3))) AS tg")
          .selectExpr("doc_id", "source",
            "tg.w1 AS w1", "tg.w2 AS w2", "tg.w3 AS w3")
        // Bounded-size argument (VERDICT r13 #5): the collected table
        // holds SAMPLED trigram TYPES WITH COUNT >= 2 — the KenLM
        // singleton prune. Zipf tails are dominated by hapaxes, so the
        // pruned type count grows like the sample's REPEATED-type
        // count (sublinear in corpus tokens), and boundedModel fails
        // loudly at the 4M-row line where the driver-literal regime
        // ends and q243's full-shuffle exact-model shape is the plan.
        val sp = s; import sp.implicits._
        val mrows = tri.where("doc_id % 10 = 0")
          .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
          .where("c3 >= 2")
          .as[(String, String, String, Long)].collect()
        boundedModel(mrows.length, "q328_kn_trigram")
        val ct = mrows.toSeq.toDF("w1", "w2", "w3", "c3")
        // count-table legs computed driver-side from the collected
        // model (LOCAL relations broadcast with no distributed job —
        // the q340 r17 shape; identical integer counts)
        val ctx = mrows.toSeq.groupBy(r => (r._1, r._2)).toSeq
          .map { case ((w1, w2), rs) =>
            (w1, w2, rs.map(_._4).sum, rs.size.toLong) }
          .toDF("w1", "w2", "c2", "nf3")
        val typScala = mrows.toSeq.groupBy(r => (r._2, r._3))
          .map { case (k, rs) => (k, rs.size.toLong) }
        val typ = typScala.toSeq
          .map { case ((w2, w3), n2) => (w2, w3, n2) }
          .toDF("w2", "w3", "n2")
        val mid = mrows.toSeq.groupBy(_._2).toSeq
          .map { case (w2, rs) =>
            (w2, rs.size.toLong, rs.map(_._3).distinct.size.toLong) }
          .toDF("w2", "d2", "nmid")
        val low = typScala.keysIterator.toSeq.groupBy(_._2).toSeq
          .map { case (w3, ks) => (w3, ks.size.toLong) }
          .toDF("w3", "nb")
        val bt = Seq(typScala.size.toLong).toDF("b")
        tri.join(broadcast(ct), Seq("w1", "w2", "w3"), "left")
          .join(broadcast(ctx), Seq("w1", "w2"), "left")
          .join(broadcast(typ), Seq("w2", "w3"), "left")
          .join(broadcast(mid), Seq("w2"), "left")
          .join(broadcast(low), Seq("w3"), "left")
          .crossJoin(broadcast(bt))
          .selectExpr("doc_id", "source", KnTrigram.sparkLp)
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_tri"), sum("lp").as("lp_sum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("lp_sum") >= col("n_tri") * -36000L, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t3 AS (SELECT * FROM t WHERE len(toks) >= 3),
            tri AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 1])) AS w2,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 2])) AS w3
              FROM t3),
            ${KnTrigram.duckModelCtes}
            sc AS (SELECT tri.doc_id, tri.source, count(*) AS n_tri,
              CAST(sum(${KnTrigram.duckLp}) AS BIGINT) AS lp_sum
              FROM ${KnTrigram.duckJoins}
              GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n_tri * -36000 THEN 1 END)
                AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
            FROM sc GROUP BY 1"""),
      doc = "interpolated Kneser-Ney TRIGRAM LM (D=3/4, three-level " +
        "backoff through continuation counts, bit-identical quantized " +
        "log-probs) — the KenLM order ladder over q323"),

    // MODIFIED Kneser-Ney (VERDICT r13 #6: the production KenLM
    // default — Chen & Goodman 1998 §2.7): instead of q328's single
    // fixed discount, each level uses THREE count-bucketed discounts
    // estimated from the level's count-of-counts,
    //   Y = n1/(n1+2n2),  D1 = 1 − 2Y·n2/n1,
    //   D2 = 2 − 3Y·n3/n2, D3+ = 3 − 4Y·n4/n3   (clamped at 0),
    // and the backoff weight is γ(ctx) = (D1·N1 + D2·N2 + D3+·N3+)/ctot
    // where Nk counts the context's continuation types in count bucket
    // k. The top level discounts raw trigram counts; the middle level
    // discounts CONTINUATION counts (its own count-of-counts); the
    // lowest is the continuation unigram with q323's 1-numerator OOV
    // floor. Every count is an exact integer; the discounts and the
    // three-level combination evaluate in ONE double expression whose
    // parenthesization is mirrored token-for-token (Spark embeds the
    // count-of-count INTEGERS as literals, DuckDB reads the same
    // integers from its cc CTEs — identical IEEE ops, identical
    // doubles), so the quantized log-probs and the 1e6-quantized
    // discount values are pinned bit-identically. Scale shape: q328's
    // (sample-trained model under boundedModel's ceiling, five
    // broadcast joins + one corpus aggregation, per-source rollup
    // collected to driver literals so the union legs never re-scan).
    Q("q334_modified_kn",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 3")
        val tri = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 2), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2, " +
              "element_at(toks, i + 2) AS w3))) AS tg")
          .selectExpr("doc_id", "source",
            "tg.w1 AS w1", "tg.w2 AS w2", "tg.w3 AS w3")
        // UNPRUNED sample model (modified-KN estimates its discounts
        // from the raw count-of-counts, so singletons must stay);
        // boundedModel still rules out a silent driver blow-up
        val rows = tri.where("doc_id % 10 = 0")
          .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
          .as[(String, String, String, Long)].collect()
        boundedModel(rows.length, "q334_modified_kn")
        // count-of-counts, computed on the driver from the collected
        // model (no extra jobs); the mid level's base counts are the
        // continuation counts |{w1}| per (w2, w3)
        val n1 = rows.count(_._4 == 1L).toLong
        val n2c = rows.count(_._4 == 2L).toLong
        val n3c = rows.count(_._4 == 3L).toLong
        val n4c = rows.count(_._4 == 4L).toLong
        val typScala = rows.groupBy(r => (r._2, r._3)).view
          .mapValues(_.size.toLong).toMap
        val mm1 = typScala.valuesIterator.count(_ == 1L).toLong
        val mm2 = typScala.valuesIterator.count(_ == 2L).toLong
        val mm3 = typScala.valuesIterator.count(_ == 3L).toLong
        val mm4 = typScala.valuesIterator.count(_ == 4L).toLong
        // n1..n3 are discount DENOMINATORS and must be positive; n4
        // only scales the D3+ adjustment (n4 = 0 ⇒ D3+ = 3, the full
        // discount — a valid, if maximal, Chen-Goodman estimate)
        require(n1 > 0 && n2c > 0 && n3c > 0 &&
          mm1 > 0 && mm2 > 0 && mm3 > 0,
          s"degenerate count-of-counts: $n1/$n2c/$n3c/$n4c " +
            s"$mm1/$mm2/$mm3/$mm4 — sample too small for modified KN")
        // a clamped-to-zero D2/D3 could zero a context's backoff mass
        // and send an unseen continuation to ln(0) — fail loudly
        // instead (Chen-Goodman estimates go non-positive only on
        // pathological count-of-count shapes)
        require(KnModified.d2(n1, n2c, n3c) > 0 &&
          KnModified.d3(n1, n2c, n3c, n4c) > 0 &&
          KnModified.d2(mm1, mm2, mm3) > 0 &&
          KnModified.d3(mm1, mm2, mm3, mm4) > 0,
          "non-positive modified-KN discount — model degenerate")
        val ct = rows.toSeq.toDF("w1", "w2", "w3", "c3")
        // backoff legs computed driver-side from the collected model
        // (LOCAL relations broadcast with no distributed job — the
        // q340 r17 shape; identical integer counts)
        def coc3(vals: Iterable[Long]): (Long, Long, Long, Long) = (
          vals.sum, vals.count(_ == 1L).toLong,
          vals.count(_ == 2L).toLong, vals.count(_ >= 3L).toLong)
        val ctx = rows.toSeq.groupBy(r => (r._1, r._2)).toSeq
          .map { case ((w1, w2), rs) =>
            val (su, f1, f2, f3p) = coc3(rs.map(_._4))
            (w1, w2, su, f1, f2, f3p) }
          .toDF("w1", "w2", "c2", "nf1", "nf2", "nf3p")
        val typ = typScala.toSeq
          .map { case ((w2, w3), n2) => (w2, w3, n2) }
          .toDF("w2", "w3", "n2")
        val mctx = typScala.toSeq.groupBy(_._1._1).toSeq
          .map { case (w2, es) =>
            val (su, f1, f2, f3p) = coc3(es.map(_._2))
            (w2, su, f1, f2, f3p) }
          .toDF("w2", "dsum", "m1", "m2", "m3p")
        val low = typScala.keysIterator.toSeq.groupBy(_._2).toSeq
          .map { case (w3, ks) => (w3, ks.size.toLong) }
          .toDF("w3", "nb")
        val bt = Seq(typScala.size.toLong).toDF("b")
        val lpExpr = KnModified.sparkLp(n1, n2c, n3c, n4c,
          mm1, mm2, mm3, mm4)
        val srcAgg = tri.join(broadcast(ct), Seq("w1", "w2", "w3"),
            "left")
          .join(broadcast(ctx), Seq("w1", "w2"), "left")
          .join(broadcast(typ), Seq("w2", "w3"), "left")
          .join(broadcast(mctx), Seq("w2"), "left")
          .join(broadcast(low), Seq("w3"), "left")
          .crossJoin(broadcast(bt))
          .selectExpr("doc_id", "source", lpExpr)
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_tri"), sum("lp").as("lp_sum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("lp_sum") >= col("n_tri") * -36000L, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total"))
          .as[(String, Long, Long, Long)].collect().toSeq
        // discounts quantized at 1e6 — pins the estimation itself
        val discq = Seq(
          ("d1t", KnModified.d1(n1, n2c)),
          ("d2t", KnModified.d2(n1, n2c, n3c)),
          ("d3t", KnModified.d3(n1, n2c, n3c, n4c)),
          ("d1m", KnModified.d1(mm1, mm2)),
          ("d2m", KnModified.d2(mm1, mm2, mm3)),
          ("d3m", KnModified.d3(mm1, mm2, mm3, mm4)))
          .map { case (k, v) =>
            ("disc", k, 1L, math.floor(1000000.0 * v).toLong) }
        val cocRows = Seq(("coc", "n1", 1L, n1), ("coc", "n2", 1L, n2c),
          ("coc", "n3", 1L, n3c), ("coc", "n4", 1L, n4c),
          ("coc", "m1", 1L, mm1), ("coc", "m2", 1L, mm2),
          ("coc", "m3", 1L, mm3), ("coc", "m4", 1L, mm4))
        (srcAgg.map { case (src, nd, _, lt) =>
            ("src", src, nd, lt) } ++
          srcAgg.map { case (src, nd, nk, _) =>
            ("keep", src, nd, nk) } ++
          discq ++ cocRows)
          .toDF("kind", "key", "n", "v")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t3 AS (SELECT * FROM t WHERE len(toks) >= 3),
            tri AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 1])) AS w2,
              unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i + 2])) AS w3
              FROM t3),
            ${KnModified.duckModelCtes}
            sc AS MATERIALIZED (SELECT tri.doc_id, tri.source,
              count(*) AS n_tri,
              CAST(sum(${KnModified.duckLp}) AS BIGINT) AS lp_sum
              FROM ${KnModified.duckJoins}
              GROUP BY 1, 2),
            srcagg AS MATERIALIZED (SELECT source,
              count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n_tri * -36000 THEN 1 END)
                AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
              FROM sc GROUP BY 1)
            SELECT 'src' AS kind, source AS key,
              CAST(n_docs AS BIGINT) AS n, lp_total AS v FROM srcagg
            UNION ALL SELECT 'keep', source, CAST(n_docs AS BIGINT),
              CAST(n_keep AS BIGINT) FROM srcagg
            UNION ALL SELECT 'disc', 'd1t', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("cct.n1",
                "cct.n2", "cct.n3", "cct.n4", 1)}) AS BIGINT)
              FROM cct
            UNION ALL SELECT 'disc', 'd2t', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("cct.n1",
                "cct.n2", "cct.n3", "cct.n4", 2)}) AS BIGINT)
              FROM cct
            UNION ALL SELECT 'disc', 'd3t', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("cct.n1",
                "cct.n2", "cct.n3", "cct.n4", 3)}) AS BIGINT)
              FROM cct
            UNION ALL SELECT 'disc', 'd1m', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("ccm.m1",
                "ccm.m2", "ccm.m3", "ccm.m4", 1)}) AS BIGINT)
              FROM ccm
            UNION ALL SELECT 'disc', 'd2m', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("ccm.m1",
                "ccm.m2", "ccm.m3", "ccm.m4", 2)}) AS BIGINT)
              FROM ccm
            UNION ALL SELECT 'disc', 'd3m', 1,
              CAST(floor(1000000.0 * ${KnModified.duckD("ccm.m1",
                "ccm.m2", "ccm.m3", "ccm.m4", 3)}) AS BIGINT)
              FROM ccm
            UNION ALL SELECT 'coc', 'n1', 1, n1 FROM cct
            UNION ALL SELECT 'coc', 'n2', 1, n2 FROM cct
            UNION ALL SELECT 'coc', 'n3', 1, n3 FROM cct
            UNION ALL SELECT 'coc', 'n4', 1, n4 FROM cct
            UNION ALL SELECT 'coc', 'm1', 1, m1 FROM ccm
            UNION ALL SELECT 'coc', 'm2', 1, m2 FROM ccm
            UNION ALL SELECT 'coc', 'm3', 1, m3 FROM ccm
            UNION ALL SELECT 'coc', 'm4', 1, m4 FROM ccm"""),
      doc = "MODIFIED Kneser-Ney trigram LM (Chen-Goodman per-count " +
        "discounts D1/D2/D3+ from count-of-counts at each level, " +
        "clamped, bit-identical doubles) — the production KenLM " +
        "default, one ladder step over q328"),

    // Order-4 ladder step over q334 (ROADMAP r15 #3 pulled forward):
    // modified Kneser-Ney FOUR-gram LM. Same Chen-Goodman estimator,
    // one more backoff level — the top level scores raw 4-gram counts
    // and each lower level scores CONTINUATION types (|{w1}| per
    // (w2,w3,w4), |{w2}| per (w3,w4), |{w3}| per w4), with per-count
    // discounts D1/D2/D3+ estimated from EACH level's own
    // count-of-counts (three discount sets, nine discounts — KenLM's
    // default shape at order 4). Same driver-literal model regime as
    // q334 (sampled, boundedModel-guarded, broadcast scoring joins —
    // the corpus side never shuffles wider than one groupBy(doc)),
    // same mirrored-double contract: ONE fixed four-level
    // parenthesization shared token-for-token with the oracle, so the
    // quantized floor(10000·ln p) is bit-identical.
    Q("q340_modified_kn4",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val docs = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"${TextOps.sparkToks} AS toks")
          .where("size(toks) >= 4")
        val fg = docs.selectExpr("doc_id", "source",
            "explode(transform(sequence(1, size(toks) - 3), " +
              "i -> struct(element_at(toks, i) AS w1, " +
              "element_at(toks, i + 1) AS w2, " +
              "element_at(toks, i + 2) AS w3, " +
              "element_at(toks, i + 3) AS w4))) AS g")
          .selectExpr("doc_id", "source", "g.w1 AS w1", "g.w2 AS w2",
            "g.w3 AS w3", "g.w4 AS w4")
        val rows = fg.where("doc_id % 10 = 0")
          .groupBy("w1", "w2", "w3", "w4")
          .agg(count(lit(1)).as("c4"))
          .as[(String, String, String, String, Long)].collect()
        boundedModel(rows.length, "q340_modified_kn4")
        // The discount CASE (dSqlF) covers every degenerate
        // count-of-counts shape via KenLM's fallback, so no q334-style
        // per-level requires — but an EMPTY sampled model is still
        // fatal: bt would yield b = 0 and the lowest-order leg's
        // nb/b would divide by zero, emitting garbage silently.
        // Mirror q334's loud-fail posture for that one regime.
        require(rows.nonEmpty,
          "q340_modified_kn4: empty sampled model (no 4-grams with " +
            "doc_id % 10 = 0) — b = 0 would zero the unigram-leg " +
            "denominator; corpus too small for this lane")
        // count-of-counts per level, from the one collected model:
        // level-4 raw counts, then the two continuation-type levels
        def coc(vals: Iterator[Long]): (Long, Long, Long, Long) = {
          var a = 0L; var b = 0L; var c = 0L; var e = 0L
          vals.foreach {
            case 1L => a += 1
            case 2L => b += 1
            case 3L => c += 1
            case 4L => e += 1
            case _ =>
          }
          (a, b, c, e)
        }
        val (n1, n2c, n3c, n4c) = coc(rows.iterator.map(_._5))
        val t3Scala = rows.groupBy(r => (r._2, r._3, r._4)).view
          .mapValues(_.size.toLong).toMap
        val (p1, p2, p3, p4) = coc(t3Scala.valuesIterator)
        val t2Scala = t3Scala.keysIterator.toSeq
          .groupBy(k => (k._2, k._3)).view
          .mapValues(_.size.toLong).toMap
        val (q1c, q2c, q3c, q4c) = coc(t2Scala.valuesIterator)
        // KenLM --discount_fallback semantics, per level: estimated
        // discounts only where the level's count-of-counts support a
        // sane Chen-Goodman estimate (all N1..N4 nonzero AND all
        // three unclamped estimates positive — the 10x soak's
        // rotated-replica continuation counts produce a legal-counts/
        // out-of-range-estimate level, exactly KenLM's fallback
        // trigger), fixed 0.5/1.0/1.5 otherwise. Both dialects take
        // the branch from the SAME integers (KnModified.dSqlF /
        // estOk), so no lane-side require is needed — every regime
        // is defined.
        val ct = rows.toSeq.toDF("w1", "w2", "w3", "w4", "c4")
        // every backoff leg derives from the one COLLECTED model
        // (`rows` is already driver-local and bounded), so compute
        // them in Scala and hand Spark LOCAL relations: a broadcast
        // over a LocalTableScan builds with no distributed job, where
        // the former ct.groupBy legs each cost a broadcast-exchange
        // job round-trip (16 jobs ≈ 2.5 s at sf0.1; optimization r17,
        // guide §1.2 — same integer counts, identical results)
        def coc3(vals: Iterable[Long]): (Long, Long, Long, Long) = (
          vals.sum, vals.count(_ == 1L).toLong,
          vals.count(_ == 2L).toLong, vals.count(_ >= 3L).toLong)
        val cx4 = rows.toSeq.groupBy(r => (r._1, r._2, r._3)).toSeq
          .map { case ((w1, w2, w3), rs) =>
            val (s4, f1, f2, f3p) = coc3(rs.map(_._5))
            (w1, w2, w3, s4, f1, f2, f3p) }
          .toDF("w1", "w2", "w3", "c3x", "xf1", "xf2", "xf3p")
        val t3 = t3Scala.toSeq
          .map { case ((w2, w3, w4), n3) => (w2, w3, w4, n3) }
          .toDF("w2", "w3", "w4", "n3")
        val cx3 = t3Scala.toSeq.groupBy(e => (e._1._1, e._1._2)).toSeq
          .map { case ((w2, w3), es) =>
            val (su, f1, f2, f3p) = coc3(es.map(_._2))
            (w2, w3, su, f1, f2, f3p) }
          .toDF("w2", "w3", "dsum3", "yf1", "yf2", "yf3p")
        val t2 = t2Scala.toSeq
          .map { case ((w3, w4), n2b) => (w3, w4, n2b) }
          .toDF("w3", "w4", "n2b")
        val cx2 = t2Scala.toSeq.groupBy(_._1._1).toSeq
          .map { case (w3, es) =>
            val (su, f1, f2, f3p) = coc3(es.map(_._2))
            (w3, su, f1, f2, f3p) }
          .toDF("w3", "dsum2", "zf1", "zf2", "zf3p")
        val low = t2Scala.keysIterator.toSeq.groupBy(_._2).toSeq
          .map { case (w4, ks) => (w4, ks.size.toLong) }
          .toDF("w4", "nb")
        val bt = Seq(t2Scala.size.toLong).toDF("b")
        val lpExpr = Kn4Modified.sparkLp(n1, n2c, n3c, n4c,
          p1, p2, p3, p4, q1c, q2c, q3c, q4c)
        val srcAgg = fg
          .join(broadcast(ct), Seq("w1", "w2", "w3", "w4"), "left")
          .join(broadcast(cx4), Seq("w1", "w2", "w3"), "left")
          .join(broadcast(t3), Seq("w2", "w3", "w4"), "left")
          .join(broadcast(cx3), Seq("w2", "w3"), "left")
          .join(broadcast(t2), Seq("w3", "w4"), "left")
          .join(broadcast(cx2), Seq("w3"), "left")
          .join(broadcast(low), Seq("w4"), "left")
          .crossJoin(broadcast(bt))
          .selectExpr("doc_id", "source", lpExpr)
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n4g"), sum("lp").as("lp_sum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(
              col("lp_sum") >= col("n4g") * Kn4Modified.KeepT, 1))
              .as("n_keep"),
            sum("lp_sum").as("lp_total"))
          .as[(String, Long, Long, Long)].collect().toSeq
        val discq = Seq(
          ("d1a", KnModified.d1F(n1, n2c, n3c, n4c)),
          ("d2a", KnModified.d2F(n1, n2c, n3c, n4c)),
          ("d3a", KnModified.d3F(n1, n2c, n3c, n4c)),
          ("d1b", KnModified.d1F(p1, p2, p3, p4)),
          ("d2b", KnModified.d2F(p1, p2, p3, p4)),
          ("d3b", KnModified.d3F(p1, p2, p3, p4)),
          ("d1c", KnModified.d1F(q1c, q2c, q3c, q4c)),
          ("d2c", KnModified.d2F(q1c, q2c, q3c, q4c)),
          ("d3c", KnModified.d3F(q1c, q2c, q3c, q4c)))
          .map { case (k, v) =>
            ("disc", k, 1L, math.floor(1000000.0 * v).toLong) }
        val cocRows = Seq(
          ("coc", "n1", 1L, n1), ("coc", "n2", 1L, n2c),
          ("coc", "n3", 1L, n3c), ("coc", "n4", 1L, n4c),
          ("coc", "p1", 1L, p1), ("coc", "p2", 1L, p2),
          ("coc", "p3", 1L, p3), ("coc", "p4", 1L, p4),
          ("coc", "q1", 1L, q1c), ("coc", "q2", 1L, q2c),
          ("coc", "q3", 1L, q3c), ("coc", "q4", 1L, q4c))
        (srcAgg.map { case (src, nd, _, lt) =>
            ("src", src, nd, lt) } ++
          srcAgg.map { case (src, nd, nk, _) =>
            ("keep", src, nd, nk) } ++
          discq ++ cocRows)
          .toDF("kind", "key", "n", "v")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              ${TextOps.duckToks} AS toks FROM documents),
            t4 AS (SELECT * FROM t WHERE len(toks) >= 4),
            fg AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(toks) - 2),
                i -> toks[i])) AS w1,
              unnest(list_transform(range(1, len(toks) - 2),
                i -> toks[i + 1])) AS w2,
              unnest(list_transform(range(1, len(toks) - 2),
                i -> toks[i + 2])) AS w3,
              unnest(list_transform(range(1, len(toks) - 2),
                i -> toks[i + 3])) AS w4
              FROM t4),
            ${Kn4Modified.duckModelCtes}
            sc AS MATERIALIZED (SELECT fg.doc_id, fg.source,
              count(*) AS n4g,
              CAST(sum(${Kn4Modified.duckLp}) AS BIGINT) AS lp_sum
              FROM ${Kn4Modified.duckJoins}
              GROUP BY 1, 2),
            srcagg AS MATERIALIZED (SELECT source,
              count(*) AS n_docs,
              count(CASE WHEN lp_sum >= n4g * ${Kn4Modified.KeepT}
                THEN 1 END) AS n_keep,
              CAST(sum(lp_sum) AS BIGINT) AS lp_total
              FROM sc GROUP BY 1)
            SELECT 'src' AS kind, source AS key,
              CAST(n_docs AS BIGINT) AS n, lp_total AS v FROM srcagg
            UNION ALL SELECT 'keep', source, CAST(n_docs AS BIGINT),
              CAST(n_keep AS BIGINT) FROM srcagg
            ${Kn4Modified.duckDiscCocSelects}"""),
      doc = "MODIFIED Kneser-Ney 4-gram LM — the order ladder's next " +
        "step over q334: raw 4-gram top level, two continuation-" +
        "count backoff levels plus the unigram-type base, per-count " +
        "D1/D2/D3+ at EVERY scored level from that level's own " +
        "count-of-counts, bit-identical doubles")
  )
}

/** The Kneser-Ney trigram expression, shared verbatim by q328 and
  * q322's perplexity vote so the two lanes cannot drift. The Spark and
  * DuckDB forms mirror each other parenthesis-for-parenthesis — every
  * factor is an exact integer below 2^53 and doubles combine in one
  * fixed order, so the quantized floor(10000·ln(p)) is bit-identical.
  */
private[operators] object KnTrigram {

  /** Spark selectExpr leg: requires columns c3,c2,nf3,n2,d2,nmid,nb,b
    * in scope (nulls where a model table missed). */
  val sparkLp: String =
    """CAST(floor(10000.0 * ln(
         CASE WHEN c2 IS NOT NULL THEN
           greatest(
             CAST(greatest(4 * coalesce(c3, 0L) - 3, 0L) AS DOUBLE)
               * (4 * d2) * b
             + 3.0 * nf3 *
               (CAST(greatest(4 * coalesce(n2, 0L) - 3, 0L) AS DOUBLE)
                  * b
                + 3.0 * nmid * coalesce(nb, 0L)),
             CAST(1 AS DOUBLE))
           / (CAST(4 * c2 AS DOUBLE) * (4 * d2) * b)
         WHEN d2 IS NOT NULL THEN
           greatest(
             CAST(greatest(4 * coalesce(n2, 0L) - 3, 0L) AS DOUBLE) * b
             + 3.0 * nmid * coalesce(nb, 0L),
             CAST(1 AS DOUBLE))
           / (CAST(4 * d2 AS DOUBLE) * b)
         ELSE CAST(greatest(coalesce(nb, 0L), 1L) AS DOUBLE)
           / (4.0 * b)
         END)) AS BIGINT) AS lp"""

  /** DuckDB mirror of [[sparkLp]] (qualified column names; the CASE
    * and double-combination order are identical). */
  val duckLp: String =
    """CAST(floor(10000.0 * ln(
         CASE WHEN ctx.c2 IS NOT NULL THEN
           greatest(
             CAST(greatest(4 * coalesce(ct.c3, 0) - 3, 0) AS DOUBLE)
               * (4 * mid.d2) * bt.b
             + 3.0 * ctx.nf3 *
               (CAST(greatest(4 * coalesce(typ.n2, 0) - 3, 0)
                  AS DOUBLE) * bt.b
                + 3.0 * mid.nmid * coalesce(low.nb, 0)),
             CAST(1 AS DOUBLE))
           / (CAST(4 * ctx.c2 AS DOUBLE) * (4 * mid.d2) * bt.b)
         WHEN mid.d2 IS NOT NULL THEN
           greatest(
             CAST(greatest(4 * coalesce(typ.n2, 0) - 3, 0) AS DOUBLE)
               * bt.b
             + 3.0 * mid.nmid * coalesce(low.nb, 0),
             CAST(1 AS DOUBLE))
           / (CAST(4 * mid.d2 AS DOUBLE) * bt.b)
         ELSE CAST(greatest(coalesce(low.nb, 0), 1) AS DOUBLE)
           / (4.0 * bt.b)
         END)) AS BIGINT)"""

  /** The model CTE chain: expects a `tri(doc_id, source?, w1, w2, w3)`
    * CTE defined just before (built by the caller, since q322 carries
    * extra feature columns through it). `ct` is MATERIALIZED — it is
    * referenced by three derivations and DuckDB would otherwise
    * re-expand the corpus scan per reference. */
  val duckModelCtes: String =
    """smp AS (SELECT w1, w2, w3 FROM tri WHERE doc_id % 10 = 0),
       ct AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3
         FROM smp GROUP BY 1, 2, 3 HAVING count(*) >= 2),
       ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2,
         count(*) AS nf3 FROM ct GROUP BY 1, 2),
       typ AS MATERIALIZED (SELECT w2, w3, count(*) AS n2
         FROM ct GROUP BY 1, 2),
       mid AS (SELECT w2, count(*) AS d2, count(DISTINCT w3) AS nmid
         FROM ct GROUP BY 1),
       low AS (SELECT w3, count(*) AS nb FROM typ GROUP BY 1),
       bt AS (SELECT count(*) AS b FROM typ),"""

  /** The scoring join chain (FROM clause body). */
  val duckJoins: String =
    """tri LEFT JOIN ct USING (w1, w2, w3)
       LEFT JOIN ctx USING (w1, w2)
       LEFT JOIN typ ON typ.w2 = tri.w2 AND typ.w3 = tri.w3
       LEFT JOIN mid ON mid.w2 = tri.w2
       LEFT JOIN low ON low.w3 = tri.w3
       CROSS JOIN bt"""
}

/** Modified Kneser-Ney (q334): the per-count-bucket discounts and the
  * three-level log-prob, generated from ONE textual template so the
  * Spark form (count-of-count INTEGERS as literals) and the DuckDB
  * form (the same integers from cc CTE columns) are mirrored
  * token-for-token — identical IEEE-754 double sequences, identical
  * quantized outputs. */
private[graft] object KnModified {

  /** Discount D_k as SQL over four count-of-count references. The
    * SAME generator serves both dialects — only the refs differ. */
  def dSql(a: String, b: String, c: String, e: String, k: Int)
      : String = {
    val y = s"(CAST($a AS DOUBLE) / CAST(($a + (2 * $b)) AS DOUBLE))"
    k match {
      case 1 => s"greatest(1.0 - ((2.0 * $y) * " +
        s"(CAST($b AS DOUBLE) / CAST($a AS DOUBLE))), 0.0)"
      case 2 => s"greatest(2.0 - ((3.0 * $y) * " +
        s"(CAST($c AS DOUBLE) / CAST($b AS DOUBLE))), 0.0)"
      case _ => s"greatest(3.0 - ((4.0 * $y) * " +
        s"(CAST($e AS DOUBLE) / CAST($c AS DOUBLE))), 0.0)"
    }
  }

  /** DuckDB discount reference (same generator, qualified refs). */
  def duckD(a: String, b: String, c: String, e: String, k: Int)
      : String = dSql(a, b, c, e, k)

  /** Discount with KenLM's --discount_fallback semantics: when a
    * level's count-of-counts cannot support the Chen-Goodman
    * estimate — any of N1..N4 zero (sparse higher orders on small
    * samples), or any of the three UNCLAMPED estimates non-positive
    * (KenLM rejects out-of-range estimates for the whole order) —
    * the level uses the fixed defaults D1/D2/D3+ = 0.5/1.0/1.5.
    * One CASE shared by both dialects, so the branch is taken
    * identically per dataset. Zero counts make later raw-estimate
    * disjuncts divide by zero — inf/NaN under Spark double semantics
    * and DuckDB's ieee_floating_point_ops default (NULL only on old
    * DuckDB) — but the guard never depends on that: any zero-count
    * case already has its leading `$x = 0` disjunct TRUE, and no
    * inf/NaN/NULL in a later disjunct can flip a TRUE OR. Note one
    * intentional deviation from KenLM's strict `discount < 0 ||
    * discount > j` rejection: we fall back on `<= 0` (an exactly-zero
    * estimate would zero a context's backoff mass — the q334 ln(0)
    * hazard); the `> j` bound is unreachable for positive counts. */
  def dSqlF(a: String, b: String, c: String, e: String, k: Int)
      : String = {
    val fb = k match {
      case 1 => "0.5"; case 2 => "1.0"; case _ => "1.5"
    }
    val y = s"(CAST($a AS DOUBLE) / CAST(($a + (2 * $b)) AS DOUBLE))"
    val r1 = s"(1.0 - ((2.0 * $y) * " +
      s"(CAST($b AS DOUBLE) / CAST($a AS DOUBLE))))"
    val r2 = s"(2.0 - ((3.0 * $y) * " +
      s"(CAST($c AS DOUBLE) / CAST($b AS DOUBLE))))"
    val r3 = s"(3.0 - ((4.0 * $y) * " +
      s"(CAST($e AS DOUBLE) / CAST($c AS DOUBLE))))"
    s"(CASE WHEN ($a = 0 OR $b = 0 OR $c = 0 OR $e = 0 " +
      s"OR $r1 <= 0.0 OR $r2 <= 0.0 OR $r3 <= 0.0) THEN $fb " +
      s"ELSE ${dSql(a, b, c, e, k)} END)"
  }

  /** The [[dSqlF]] branch condition as a Scala twin — same raw
    * expressions, same comparisons. */
  def estOk(a: Long, b: Long, c: Long, e: Long): Boolean = {
    if (a == 0 || b == 0 || c == 0 || e == 0) false
    else {
      val y = a.toDouble / (a + (2 * b)).toDouble
      (1.0 - ((2.0 * y) * (b.toDouble / a.toDouble))) > 0.0 &&
      (2.0 - ((3.0 * y) * (c.toDouble / b.toDouble))) > 0.0 &&
      (3.0 - ((4.0 * y) * (e.toDouble / c.toDouble))) > 0.0
    }
  }

  /** Scala twins of [[dSqlF]] — same branch, same op order. */
  def d1F(a: Long, b: Long, c: Long, e: Long): Double =
    if (!estOk(a, b, c, e)) 0.5 else d1(a, b)
  def d2F(a: Long, b: Long, c: Long, e: Long): Double =
    if (!estOk(a, b, c, e)) 1.0 else d2(a, b, c)
  def d3F(a: Long, b: Long, c: Long, e: Long): Double =
    if (!estOk(a, b, c, e)) 1.5 else d3(a, b, c, e)

  /** Scala twins of [[dSql]] — same op order, for the pinned
    * 1e6-quantized discount output rows. */
  def d1(a: Long, b: Long): Double = {
    val y = a.toDouble / (a + (2 * b)).toDouble
    math.max(1.0 - ((2.0 * y) * (b.toDouble / a.toDouble)), 0.0)
  }
  def d2(a: Long, b: Long, c: Long): Double = {
    val y = a.toDouble / (a + (2 * b)).toDouble
    math.max(2.0 - ((3.0 * y) * (c.toDouble / b.toDouble)), 0.0)
  }
  def d3(a: Long, b: Long, c: Long, e: Long): Double = {
    val y = a.toDouble / (a + (2 * b)).toDouble
    math.max(3.0 - ((4.0 * y) * (e.toDouble / c.toDouble)), 0.0)
  }

  /** The three-level modified-KN log-prob: one parenthesization over
    * column refs + discount SQL strings, shared by both dialects. */
  private def lpSql(c3: String, c2: String, nf1: String, nf2: String,
      nf3p: String, n2: String, dsum: String, m1: String, m2: String,
      m3p: String, nb: String, b: String, d1t: String, d2t: String,
      d3t: String, d1m: String, d2m: String, d3m: String): String = {
    val plow = s"(CAST(greatest(coalesce($nb, 0), 1) AS DOUBLE) / " +
      s"CAST($b AS DOUBLE))"
    val dm = s"(CASE WHEN coalesce($n2, 0) = 1 THEN $d1m " +
      s"WHEN coalesce($n2, 0) = 2 THEN $d2m ELSE $d3m END)"
    val gm = s"((($d1m * $m1) + ($d2m * $m2)) + ($d3m * $m3p))"
    val pmid = s"((greatest(CAST(coalesce($n2, 0) AS DOUBLE) - $dm, " +
      s"0.0) + ($gm * $plow)) / CAST($dsum AS DOUBLE))"
    val dt = s"(CASE WHEN coalesce($c3, 0) = 1 THEN $d1t " +
      s"WHEN coalesce($c3, 0) = 2 THEN $d2t ELSE $d3t END)"
    val gt = s"((($d1t * $nf1) + ($d2t * $nf2)) + ($d3t * $nf3p))"
    val ptop = s"((greatest(CAST(coalesce($c3, 0) AS DOUBLE) - $dt, " +
      s"0.0) + ($gt * $pmid)) / CAST($c2 AS DOUBLE))"
    s"CAST(floor(10000.0 * ln(CASE WHEN $c2 IS NOT NULL THEN $ptop " +
      s"WHEN $dsum IS NOT NULL THEN $pmid ELSE $plow END)) AS BIGINT)"
  }

  /** Spark scoring leg: count-of-counts embedded as BIGINT literals
    * (they are driver scalars — the model was collected anyway). */
  def sparkLp(n1: Long, n2: Long, n3: Long, n4: Long, m1: Long,
      m2: Long, m3: Long, m4: Long): String = {
    def lit(v: Long) = s"${v}L"
    val (a, b, c, e) = (lit(n1), lit(n2), lit(n3), lit(n4))
    val (f, g, h, i) = (lit(m1), lit(m2), lit(m3), lit(m4))
    lpSql("c3", "c2", "nf1", "nf2", "nf3p", "n2", "dsum", "m1", "m2",
      "m3p", "nb", "b",
      dSql(a, b, c, e, 1), dSql(a, b, c, e, 2), dSql(a, b, c, e, 3),
      dSql(f, g, h, i, 1), dSql(f, g, h, i, 2),
      dSql(f, g, h, i, 3)) + " AS lp"
  }

  /** DuckDB mirror: same template, qualified refs, cc CTE columns. */
  val duckLp: String =
    lpSql("ct.c3", "ctx.c2", "ctx.nf1", "ctx.nf2", "ctx.nf3p",
      "typ.n2", "mctx.dsum", "mctx.m1", "mctx.m2", "mctx.m3p",
      "low.nb", "bt.b",
      dSql("cct.n1", "cct.n2", "cct.n3", "cct.n4", 1),
      dSql("cct.n1", "cct.n2", "cct.n3", "cct.n4", 2),
      dSql("cct.n1", "cct.n2", "cct.n3", "cct.n4", 3),
      dSql("ccm.m1", "ccm.m2", "ccm.m3", "ccm.m4", 1),
      dSql("ccm.m1", "ccm.m2", "ccm.m3", "ccm.m4", 2),
      dSql("ccm.m1", "ccm.m2", "ccm.m3", "ccm.m4", 3))

  /** The modified-KN model CTE chain (expects a `tri(doc_id, …, w1,
    * w2, w3)` CTE defined just before, like [[KnTrigram]]'s; UNPRUNED
    * ct — the discounts are estimated from raw count-of-counts). */
  val duckModelCtes: String =
    """smp AS (SELECT w1, w2, w3 FROM tri WHERE doc_id % 10 = 0),
            ct AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3
              FROM smp GROUP BY 1, 2, 3),
            ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2,
              CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS nf1,
              CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS nf2,
              CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS nf3p
              FROM ct GROUP BY 1, 2),
            typ AS MATERIALIZED (SELECT w2, w3, count(*) AS n2
              FROM ct GROUP BY 1, 2),
            mctx AS (SELECT w2, CAST(sum(n2) AS BIGINT) AS dsum,
              CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS m1,
              CAST(sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS m2,
              CAST(sum(CASE WHEN n2 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS m3p
              FROM typ GROUP BY 1),
            low AS (SELECT w3, count(*) AS nb FROM typ GROUP BY 1),
            bt AS (SELECT count(*) AS b FROM typ),
            cct AS (SELECT
              CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n1,
              CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n2,
              CAST(sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS n3,
              CAST(sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS n4
              FROM ct),
            ccm AS (SELECT
              CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS m1,
              CAST(sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS m2,
              CAST(sum(CASE WHEN n2 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS m3,
              CAST(sum(CASE WHEN n2 = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS m4
              FROM typ),"""

  /** The modified-KN scoring join chain (FROM clause body). */
  val duckJoins: String =
    """tri LEFT JOIN ct USING (w1, w2, w3)
              LEFT JOIN ctx USING (w1, w2)
              LEFT JOIN typ ON typ.w2 = tri.w2 AND typ.w3 = tri.w3
              LEFT JOIN mctx ON mctx.w2 = tri.w2
              LEFT JOIN low ON low.w3 = tri.w3
              CROSS JOIN bt CROSS JOIN cct CROSS JOIN ccm"""
}

/** Order-4 modified Kneser-Ney (q340): KnModified one ladder step up.
  * THREE discount sets — one per scored level, each estimated from
  * that level's own count-of-counts over the same collected model —
  * and one fixed four-level parenthesization shared token-for-token
  * between the engines (every factor an exact integer, doubles
  * combined in one order ⇒ the quantized floor(10000·ln p) is
  * bit-identical). The discount generator is [[KnModified.dSql]],
  * reused verbatim so the two ladder rungs cannot drift. pmacct has
  * no LM surface — this extends the engine's training-data side. */
private[operators] object Kn4Modified {

  /** Keep-vote threshold: quantized mean log-prob per 4-gram (the
    * q334 vote's -36000 analog, one order sparser — picked off the
    * measured per-doc mean-lp distribution so the vote splits at
    * both gated SFs rather than rubber-stamping). Shared by both
    * dialects as a literal. */
  val KeepT: Long = -39000L

  /** The four-level modified-KN log-prob: one parenthesization over
    * column refs + discount SQL strings, shared by both dialects.
    * Levels: raw 4-gram counts (a) → |{w1}| continuation types (b) →
    * |{w2}| continuation types (c) → unigram-type base. */
  private def lpSql(c4: String, c3x: String, xf1: String, xf2: String,
      xf3p: String, n3: String, dsum3: String, yf1: String,
      yf2: String, yf3p: String, n2b: String, dsum2: String,
      zf1: String, zf2: String, zf3p: String, nb: String, b: String,
      d1a: String, d2a: String, d3a: String,
      d1b: String, d2b: String, d3b: String,
      d1c: String, d2c: String, d3c: String): String = {
    val plow = s"(CAST(greatest(coalesce($nb, 0), 1) AS DOUBLE) / " +
      s"CAST($b AS DOUBLE))"
    val dc = s"(CASE WHEN coalesce($n2b, 0) = 1 THEN $d1c " +
      s"WHEN coalesce($n2b, 0) = 2 THEN $d2c ELSE $d3c END)"
    val gc = s"((($d1c * $zf1) + ($d2c * $zf2)) + ($d3c * $zf3p))"
    val pm2 = s"((greatest(CAST(coalesce($n2b, 0) AS DOUBLE) - $dc, " +
      s"0.0) + ($gc * $plow)) / CAST($dsum2 AS DOUBLE))"
    val db = s"(CASE WHEN coalesce($n3, 0) = 1 THEN $d1b " +
      s"WHEN coalesce($n3, 0) = 2 THEN $d2b ELSE $d3b END)"
    val gb = s"((($d1b * $yf1) + ($d2b * $yf2)) + ($d3b * $yf3p))"
    val pm3 = s"((greatest(CAST(coalesce($n3, 0) AS DOUBLE) - $db, " +
      s"0.0) + ($gb * $pm2)) / CAST($dsum3 AS DOUBLE))"
    val da = s"(CASE WHEN coalesce($c4, 0) = 1 THEN $d1a " +
      s"WHEN coalesce($c4, 0) = 2 THEN $d2a ELSE $d3a END)"
    val ga = s"((($d1a * $xf1) + ($d2a * $xf2)) + ($d3a * $xf3p))"
    val ptop = s"((greatest(CAST(coalesce($c4, 0) AS DOUBLE) - $da, " +
      s"0.0) + ($ga * $pm3)) / CAST($c3x AS DOUBLE))"
    s"CAST(floor(10000.0 * ln(CASE WHEN $c3x IS NOT NULL THEN $ptop " +
      s"WHEN $dsum3 IS NOT NULL THEN $pm3 " +
      s"WHEN $dsum2 IS NOT NULL THEN $pm2 ELSE $plow END)) AS BIGINT)"
  }

  /** Spark scoring leg: count-of-counts embedded as BIGINT literals
    * (driver scalars — the model was collected anyway). */
  def sparkLp(n1: Long, n2: Long, n3: Long, n4: Long,
      p1: Long, p2: Long, p3: Long, p4: Long,
      q1: Long, q2: Long, q3: Long, q4: Long): String = {
    def l(v: Long) = s"${v}L"
    import KnModified.dSqlF
    lpSql("c4", "c3x", "xf1", "xf2", "xf3p", "n3", "dsum3", "yf1",
      "yf2", "yf3p", "n2b", "dsum2", "zf1", "zf2", "zf3p", "nb", "b",
      dSqlF(l(n1), l(n2), l(n3), l(n4), 1),
      dSqlF(l(n1), l(n2), l(n3), l(n4), 2),
      dSqlF(l(n1), l(n2), l(n3), l(n4), 3),
      dSqlF(l(p1), l(p2), l(p3), l(p4), 1),
      dSqlF(l(p1), l(p2), l(p3), l(p4), 2),
      dSqlF(l(p1), l(p2), l(p3), l(p4), 3),
      dSqlF(l(q1), l(q2), l(q3), l(q4), 1),
      dSqlF(l(q1), l(q2), l(q3), l(q4), 2),
      dSqlF(l(q1), l(q2), l(q3), l(q4), 3)) + " AS lp"
  }

  /** DuckDB mirror: same template, qualified refs, cc CTE columns. */
  val duckLp: String = {
    import KnModified.dSqlF
    lpSql("ct4.c4", "cx4.c3x", "cx4.xf1", "cx4.xf2", "cx4.xf3p",
      "t3.n3", "cx3.dsum3", "cx3.yf1", "cx3.yf2", "cx3.yf3p",
      "t2.n2b", "cx2.dsum2", "cx2.zf1", "cx2.zf2", "cx2.zf3p",
      "low.nb", "bt.b",
      dSqlF("cc4.n1", "cc4.n2", "cc4.n3", "cc4.n4", 1),
      dSqlF("cc4.n1", "cc4.n2", "cc4.n3", "cc4.n4", 2),
      dSqlF("cc4.n1", "cc4.n2", "cc4.n3", "cc4.n4", 3),
      dSqlF("cc3.p1", "cc3.p2", "cc3.p3", "cc3.p4", 1),
      dSqlF("cc3.p1", "cc3.p2", "cc3.p3", "cc3.p4", 2),
      dSqlF("cc3.p1", "cc3.p2", "cc3.p3", "cc3.p4", 3),
      dSqlF("cc2.q1", "cc2.q2", "cc2.q3", "cc2.q4", 1),
      dSqlF("cc2.q1", "cc2.q2", "cc2.q3", "cc2.q4", 2),
      dSqlF("cc2.q1", "cc2.q2", "cc2.q3", "cc2.q4", 3))
  }

  /** Model CTE chain (expects an `fg(doc_id, source, w1..w4)` CTE
    * defined just before; UNPRUNED ct4 — discounts are estimated from
    * raw count-of-counts, so singletons must stay). */
  val duckModelCtes: String =
    """smp4 AS (SELECT w1, w2, w3, w4 FROM fg WHERE doc_id % 10 = 0),
            ct4 AS MATERIALIZED (SELECT w1, w2, w3, w4,
              count(*) AS c4 FROM smp4 GROUP BY 1, 2, 3, 4),
            cx4 AS (SELECT w1, w2, w3,
              CAST(sum(c4) AS BIGINT) AS c3x,
              CAST(sum(CASE WHEN c4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS xf1,
              CAST(sum(CASE WHEN c4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS xf2,
              CAST(sum(CASE WHEN c4 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS xf3p
              FROM ct4 GROUP BY 1, 2, 3),
            t3 AS MATERIALIZED (SELECT w2, w3, w4, count(*) AS n3
              FROM ct4 GROUP BY 1, 2, 3),
            cx3 AS (SELECT w2, w3,
              CAST(sum(n3) AS BIGINT) AS dsum3,
              CAST(sum(CASE WHEN n3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS yf1,
              CAST(sum(CASE WHEN n3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS yf2,
              CAST(sum(CASE WHEN n3 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS yf3p
              FROM t3 GROUP BY 1, 2),
            t2 AS MATERIALIZED (SELECT w3, w4, count(*) AS n2b
              FROM t3 GROUP BY 1, 2),
            cx2 AS (SELECT w3,
              CAST(sum(n2b) AS BIGINT) AS dsum2,
              CAST(sum(CASE WHEN n2b = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS zf1,
              CAST(sum(CASE WHEN n2b = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS zf2,
              CAST(sum(CASE WHEN n2b >= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS zf3p
              FROM t2 GROUP BY 1),
            low AS (SELECT w4, count(*) AS nb FROM t2 GROUP BY 1),
            bt AS (SELECT count(*) AS b FROM t2),
            cc4 AS (SELECT
              CAST(sum(CASE WHEN c4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n1,
              CAST(sum(CASE WHEN c4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n2,
              CAST(sum(CASE WHEN c4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS n3,
              CAST(sum(CASE WHEN c4 = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS n4
              FROM ct4),
            cc3 AS (SELECT
              CAST(sum(CASE WHEN n3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS p1,
              CAST(sum(CASE WHEN n3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS p2,
              CAST(sum(CASE WHEN n3 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS p3,
              CAST(sum(CASE WHEN n3 = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS p4
              FROM t3),
            cc2 AS (SELECT
              CAST(sum(CASE WHEN n2b = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS q1,
              CAST(sum(CASE WHEN n2b = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS q2,
              CAST(sum(CASE WHEN n2b = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS q3,
              CAST(sum(CASE WHEN n2b = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS q4
              FROM t2),"""

  /** Scoring join chain (FROM clause body). */
  val duckJoins: String =
    """fg LEFT JOIN ct4 USING (w1, w2, w3, w4)
              LEFT JOIN cx4 ON cx4.w1 = fg.w1 AND cx4.w2 = fg.w2
                AND cx4.w3 = fg.w3
              LEFT JOIN t3 ON t3.w2 = fg.w2 AND t3.w3 = fg.w3
                AND t3.w4 = fg.w4
              LEFT JOIN cx3 ON cx3.w2 = fg.w2 AND cx3.w3 = fg.w3
              LEFT JOIN t2 ON t2.w3 = fg.w3 AND t2.w4 = fg.w4
              LEFT JOIN cx2 ON cx2.w3 = fg.w3
              LEFT JOIN low ON low.w4 = fg.w4
              CROSS JOIN bt CROSS JOIN cc4 CROSS JOIN cc3
              CROSS JOIN cc2"""

  /** The nine pinned-discount rows + twelve count-of-count rows, as
    * UNION ALL branches (generated so the discount expressions reuse
    * [[KnModified.dSql]] verbatim). */
  val duckDiscCocSelects: String = {
    import KnModified.dSqlF
    val sets = Seq(
      ("a", "cc4", Seq("n1", "n2", "n3", "n4")),
      ("b", "cc3", Seq("p1", "p2", "p3", "p4")),
      ("c", "cc2", Seq("q1", "q2", "q3", "q4")))
    val disc = sets.flatMap { case (sfx, tbl, cols) =>
      val r = cols.map(c => s"$tbl.$c")
      (1 to 3).map { k =>
        val e = dSqlF(r(0), r(1), r(2), r(3), k)
        s"UNION ALL SELECT 'disc', 'd$k$sfx', 1, " +
          s"CAST(floor(1000000.0 * $e) AS BIGINT) FROM $tbl"
      }
    }
    val coc = sets.flatMap { case (_, tbl, cols) =>
      cols.map(c => s"UNION ALL SELECT 'coc', '$c', 1, $c FROM $tbl")
    }
    (disc ++ coc).mkString("\n            ")
  }
}
