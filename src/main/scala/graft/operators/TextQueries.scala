package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Graft, Q, Tables}
import graft.text.TextOps._

/** Text-analysis operators for the training-data pipeline (builder brief:
  * lang-ID, quality scoring, token counting, fingerprinting) over the
  * `documents` table. All pure Catalyst expressions (higher-order array
  * functions over md5-derived token hashes) — per-record projections with
  * no shuffle except the final aggregation, which is the shape that holds
  * at 100 TB.
  */
object TextQueries {

  val all: Seq[Q] = Seq(

    // Token counting per source: corpus-level token statistics.
    Q("q31_token_stats",
      (s, d) => Tables.documents(s, d)
        .selectExpr("source", "doc_id", s"explode($sparkToks) as tok")
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("total_tokens"),
          countDistinct("tok").as("distinct_tokens")),
      Some(s"""SELECT source, count(DISTINCT doc_id) AS n_docs,
              count(*) AS total_tokens, count(DISTINCT tok) AS distinct_tokens
              FROM (SELECT source, doc_id, unnest($duckToks) AS tok
                    FROM documents)
              GROUP BY source"""),
      doc = "corpus token statistics per source"),

    // Global vocabulary top-k with deterministic tiebreak.
    Q("q32_vocab_topk",
      (s, d) => Tables.documents(s, d)
        .selectExpr(s"explode($sparkToks) as tok")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(15),
      Some(s"""SELECT tok, count(*) AS n
              FROM (SELECT unnest($duckToks) AS tok FROM documents)
              GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 15"""),
      doc = "vocabulary top-k"),

    // Word tokenizer vs BPE-ish tokenizer (token-count comparison).
    Q("q33_bpe_compare",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang",
          s"size($sparkToks) as nw", s"size($sparkToksBpe) as nb")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("word_tokens"),
          sum("nb").as("bpe_tokens")),
      Some(s"""SELECT lang, count(*) AS n_docs,
              CAST(sum(len($duckToks)) AS BIGINT) AS word_tokens,
              CAST(sum(len($duckToksBpe)) AS BIGINT) AS bpe_tokens
              FROM documents GROUP BY lang"""),
      doc = "dual tokenizer token counting"),

    // Language-ID heuristic: per-doc argmax over token marker classes,
    // reported as a confusion matrix vs the labeled lang.
    Q("q34_langid",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang", s"${sparkLangPredict(sparkHps)} as predicted")
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang, ${duckLangPredict(duckHps)} AS predicted,
              count(*) AS n
              FROM documents GROUP BY 1, 2"""),
      doc = "language-ID heuristic + confusion matrix"),

    // Position-sensitive document fingerprint (rolling-hash style).
    Q("q35_fingerprint",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", s"$sparkFingerprint as fp",
          s"size($sparkToks) as n_tok"),
      Some(s"""SELECT doc_id, $duckFingerprint AS fp,
              len($duckToks) AS n_tok
              FROM documents"""),
      doc = "per-document rolling-hash fingerprint"),

    // Data-mixture sampling: per-language stratified keep rates applied
    // with the engine's deterministic uniform (replayable, exact in both
    // engines) — the training-corpus mixing/reweighting operator.
    Q("q87_data_mixture",
      (s, d) => {
        val rate = when(col("lang") === "en", 0.9)
          .when(col("lang") === "de", 0.5)
          .when(col("lang") === "zh", 0.25)
          .otherwise(0.1)
        Tables.documents(s, d)
          .filter(graft.operators.Preprocess.detUniform(col("doc_id")) < rate)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum("n_chars").as("sampled_chars"))
      },
      Some(s"""SELECT lang, count(*) AS n_sampled,
            CAST(sum(n_chars) AS BIGINT) AS sampled_chars
            FROM documents
            WHERE (${graft.operators.Preprocess.detUniformSql("doc_id")}) <
              CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.5
                WHEN 'zh' THEN 0.25 ELSE 0.1 END
            GROUP BY lang"""),
      doc = "stratified data-mixture sampling with replayable uniforms"),

    // Sequence packing for training: documents concatenate in doc_id
    // order and split into fixed token-budget sequences; each doc is
    // attributed to the sequence containing its first token (the
    // concat-and-chunk packing used for pretraining batches). The prefix
    // sum is computed the 100 TB way — per-bucket window cumsum in
    // parallel plus a tiny broadcast bucket-offset table — never one
    // global single-partition window.
    Q("q103_sequence_packing",
      (s, d) => {
        val budget = 512L
        // token counts ride the materialized signature table (SigTable):
        // both consumers below (cumsum leg, offsets leg) read the cache
        val docs = SigTable.sigs(s, d)
          .selectExpr("doc_id", "n_toks as ntok")
          .withColumn("bucket", expr("doc_id div 64"))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("doc_id")
        val inBucket = docs.withColumn("cum_in",
          sum("ntok").over(wIn) - col("ntok"))
        // bucket offsets: #buckets rows — window over a TINY aggregate
        val wOff = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        val offsets = docs.groupBy("bucket")
          .agg(sum("ntok").as("btok"))
          .withColumn("offset", coalesce(
            sum("btok").over(wOff) - col("btok"), lit(0L)))
          .select("bucket", "offset")
        inBucket.join(broadcast(offsets), Seq("bucket"))
          .withColumn("seq_id",
            expr(s"(offset + cum_in) div $budget"))
          .groupBy("seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
                len($duckToks) AS ntok FROM documents),
            c AS (SELECT doc_id, ntok,
                sum(ntok) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - ntok AS start
              FROM t)
            SELECT CAST(start // 512 AS BIGINT) AS seq_id,
              count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS tokens
            FROM c GROUP BY 1"""),
      doc = "training-sequence packing via distributed prefix sums"),

    // Benchmark decontamination: corpus documents sharing any token
    // shingle with the held-out benchmark set are contaminated and must
    // be dropped before training. Shingle hashes equi-join (shuffle on
    // the gram hash; the benchmark side is tiny → broadcast) — the
    // standard n-gram-overlap decontamination pass at corpus scale.
    Q("q104_decontamination",
      (s, d) => {
        // shingle hashes explode off the materialized signature table —
        // the chain never re-runs for the bench/corpus legs
        val t = SigTable.sigs(s, d)
          .selectExpr("doc_id", "explode(hs) as h")
        val bench = t.filter(col("doc_id") % 10 === 0)
          .select("h").distinct()
        val corpus = t.filter(col("doc_id") % 10 =!= 0)
        val contaminated = corpus.join(broadcast(bench), Seq("h"))
          .select("doc_id").distinct()
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
          .groupBy().agg(count(lit(1)).as("n_corpus"))
          .crossJoin(contaminated.groupBy()
            .agg(count(lit(1)).as("n_contaminated")))
      },
      Some(s"""WITH t AS (SELECT doc_id,
                list_distinct(list_transform(${duckShingles(duckToks)},
                  g -> ${duckTokHash("g")} % $P)) AS hs
              FROM documents),
            bench AS (SELECT DISTINCT unnest(hs) AS h FROM t
              WHERE doc_id % 10 = 0),
            corpus AS (SELECT doc_id, unnest(hs) AS h FROM t
              WHERE doc_id % 10 != 0),
            contaminated AS (SELECT DISTINCT doc_id FROM corpus
              WHERE h IN (SELECT h FROM bench))
            SELECT (SELECT count(*) FROM t WHERE doc_id % 10 != 0)
                AS n_corpus,
              (SELECT count(*) FROM contaminated) AS n_contaminated"""),
      doc = "train/benchmark n-gram-overlap decontamination"),

    // Repetition filtering (Gopher-rule family): documents whose
    // type-token ratio collapses are boilerplate/spam and must drop
    // before training. Pure per-record array expressions; one final
    // aggregation shuffle.
    Q("q107_repetition",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang",
          s"size(array_distinct($sparkToks)) as n_types",
          s"size($sparkToks) as n_toks")
        .withColumn("ttr",
          when(col("n_toks") === 0, 1.0)
            .otherwise(col("n_types") / col("n_toks").cast("double")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ttr") < 0.5, 1L).otherwise(0L)).as("n_repetitive"),
          sum("n_toks").as("total_tokens")),
      Some(s"""SELECT lang, count(*) AS n_docs,
              CAST(sum(CASE WHEN ttr < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_repetitive,
              CAST(sum(n_toks) AS BIGINT) AS total_tokens
              FROM (SELECT lang,
                len(list_distinct($duckToks)) AS n_types,
                len($duckToks) AS n_toks,
                CASE WHEN len($duckToks) = 0 THEN 1.0
                  ELSE len(list_distinct($duckToks))::DOUBLE /
                    len($duckToks) END AS ttr
                FROM documents)
              GROUP BY lang"""),
      doc = "repetition filter: per-doc type-token ratio threshold"),

    // PII-style redaction accounting: digit runs scrub to a mask token
    // and the pipeline reports how much text was redacted per language —
    // the scrubbing pass every training corpus runs, with identical
    // regexp semantics on both engines so the oracle checks the actual
    // replacement arithmetic.
    Q("q108_redaction",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang", "n_chars",
          "length(text) - length(regexp_replace(text, '[0-9]', '')) " +
            "as n_digit_chars")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_digit_chars") > 0, 1L).otherwise(0L))
            .as("n_docs_redacted"),
          sum("n_digit_chars").as("chars_redacted")),
      Some("""SELECT lang, count(*) AS n_docs,
              CAST(sum(CASE WHEN n_digit_chars > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_redacted,
              CAST(sum(n_digit_chars) AS BIGINT) AS chars_redacted
              FROM (SELECT lang,
                length(text) - length(regexp_replace(text, '[0-9]', '',
                  'g')) AS n_digit_chars
                FROM documents)
              GROUP BY lang"""),
      doc = "PII-style redaction accounting via regexp scrubbing"),

    // Quality scoring: length/stopword/token-shape heuristics → [0,1].
    Q("q36_quality",
      (s, d) => Tables.documents(s, d)
        .selectExpr("lang", s"$sparkQuality as score")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 0.8, 1L).otherwise(0L)).as("n_highq"),
          min("score").as("min_score"), max("score").as("max_score")),
      Some(s"""SELECT lang, count(*) AS n_docs,
              CAST(sum(CASE WHEN score >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_highq,
              min(score) AS min_score, max(score) AS max_score
              FROM (SELECT lang, $duckQuality AS score FROM documents)
              GROUP BY lang"""),
      doc = "document quality scoring"),

    // BPE merge LEARNING — the actual training loop, not just a
    // tokenization comparison (q33): words become space-separated
    // symbol sequences; each round counts adjacent symbol pairs
    // (weighted by word frequency, one aggregation), picks the argmax
    // (ties lexicographic), and rewrites every word with the merged
    // symbol. Three driver-coordinated rounds — the q85-style iterative
    // shape: per round one shuffle over the DISTINCT-WORD table (tiny
    // vs the corpus; the corpus is scanned once, up front). Both
    // engines run the identical greedy left-to-right `replace`, so the
    // learned merge table matches symbol-for-symbol.
    Q("q173_bpe_learn",
      (s, d) => {
        val sp = s
        import sp.implicits._
        var words = Tables.documents(s, d)
          .selectExpr(s"explode($sparkToks) as w")
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .withColumn("s",
            concat(lit(" "), expr("regexp_replace(w, '(.)', '$1 ')")))
          .select("cnt", "s").persist()
        words.count()
        val merges = (1 to 3).map { rank =>
          val best = words
            .withColumn("syms", expr("split(trim(s), ' ')"))
            // single-symbol words have no pairs (Spark's sequence(1,0)
            // counts DOWN; DuckDB's generate_series(1,0) is empty)
            .filter(size(col("syms")) >= 2)
            .select(col("cnt"), explode(expr(
              """transform(sequence(1, size(syms) - 1),
                 i -> concat(element_at(syms, i), ' ',
                             element_at(syms, i + 1)))""")).as("pair"))
            .groupBy("pair").agg(sum("cnt").as("pcnt"))
            .orderBy(col("pcnt").desc, col("pair").asc)
            .head()
          val (pair, pcnt) = (best.getString(0), best.getLong(1))
          val merged = pair.replace(" ", "")
          words = words.withColumn("s",
            expr(s"replace(s, ' $pair ', ' $merged ')"))
          (rank.toLong, pair, pcnt)
        }
        words.unpersist()
        merges.toDF("rank", "pair", "cnt")
      },
      Some(s"""WITH w0 AS (SELECT w, count(*) AS cnt FROM
              (SELECT unnest($duckToks) AS w FROM documents)
              GROUP BY w),
            wt0 AS (SELECT cnt,
              ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM w0),
            p1 AS (SELECT t.syms[CAST(i AS INT)] || ' ' ||
                  t.syms[CAST(i AS INT) + 1] AS pair, sum(cnt) AS pcnt
              FROM (SELECT cnt, string_split(trim(s), ' ') AS syms
                    FROM wt0) t,
                unnest(generate_series(1, len(t.syms) - 1)) AS g(i)
              GROUP BY 1),
            b1 AS (SELECT pair, CAST(pcnt AS BIGINT) AS pcnt FROM p1
              ORDER BY pcnt DESC, pair LIMIT 1),
            wt1 AS (SELECT cnt, replace(s,
                ' ' || (SELECT pair FROM b1) || ' ',
                ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ')
                AS s FROM wt0),
            p2 AS (SELECT t.syms[CAST(i AS INT)] || ' ' ||
                  t.syms[CAST(i AS INT) + 1] AS pair, sum(cnt) AS pcnt
              FROM (SELECT cnt, string_split(trim(s), ' ') AS syms
                    FROM wt1) t,
                unnest(generate_series(1, len(t.syms) - 1)) AS g(i)
              GROUP BY 1),
            b2 AS (SELECT pair, CAST(pcnt AS BIGINT) AS pcnt FROM p2
              ORDER BY pcnt DESC, pair LIMIT 1),
            wt2 AS (SELECT cnt, replace(s,
                ' ' || (SELECT pair FROM b2) || ' ',
                ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ')
                AS s FROM wt1),
            p3 AS (SELECT t.syms[CAST(i AS INT)] || ' ' ||
                  t.syms[CAST(i AS INT) + 1] AS pair, sum(cnt) AS pcnt
              FROM (SELECT cnt, string_split(trim(s), ' ') AS syms
                    FROM wt2) t,
                unnest(generate_series(1, len(t.syms) - 1)) AS g(i)
              GROUP BY 1),
            b3 AS (SELECT pair, CAST(pcnt AS BIGINT) AS pcnt FROM p3
              ORDER BY pcnt DESC, pair LIMIT 1)
            SELECT CAST(1 AS BIGINT) AS rank, pair, pcnt AS cnt FROM b1
            UNION ALL SELECT CAST(2 AS BIGINT), pair, pcnt FROM b2
            UNION ALL SELECT CAST(3 AS BIGINT), pair, pcnt FROM b3"""),
      doc = "BPE merge learning: 3 argmax-merge rounds, greedy replace"),

    // Hashed linear quality classifier — the fastText/CCNet-shaped
    // filter stage (Joulin et al. hashing-trick linear model; CCNet
    // keeps/drops documents by a linear score over hashed token
    // features). The weight VECTOR is the model: here a 64-bucket
    // array literal (a real deployment broadcasts trained weights the
    // same way — training is out of scope, the pipeline stage is the
    // deliverable). Everything is codegen'd HOFs over the md5 token
    // hash both engines share: hash token → bucket → element_at into
    // the weight vector → sequential sum → threshold. No UDF, no
    // shuffle before the final 2-row rollup.
    Q("q240_quality_classifier",
      (s, d) => {
        import graft.text.TextOps
        val ws = (0 until 64).map(b =>
          (b * 2654435761L % 2001L - 1000L).toString)
        val sparkScore =
          s"""aggregate(transform(${sparkToks},
              t -> element_at(array(${ws.mkString(",")}),
                cast(${TextOps.sparkTokHash("t")} % 64 as int) + 1)),
              0L, (a, x) -> a + x)"""
        Tables.documents(s, d)
          .selectExpr(s"$sparkScore AS score",
            s"size(${sparkToks}) AS n_tok")
          .selectExpr(
            "CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label",
            "score", "n_tok")
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_toks"),
            sum("score").as("score_sum"))
      },
      {
        import graft.text.TextOps
        val ws = (0 until 64).map(b =>
          (b * 2654435761L % 2001L - 1000L).toString)
        Some(s"""WITH t AS (SELECT
              list_reduce([0::BIGINT] || list_transform(${duckToks},
                t -> list_extract([${ws.mkString(",")}],
                  (${TextOps.duckTokHash("t")} % 64)::INT + 1)),
                (a, x) -> a + x) AS score,
              len(${duckToks}) AS n_tok
            FROM documents)
            SELECT CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END
                AS label,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_toks,
              CAST(sum(score) AS BIGINT) AS score_sum
            FROM t GROUP BY 1""")
      },
      doc = "hashed linear quality classifier (fastText/CCNet-shaped)"),

    // The published Gopher quality-rule set (Rae et al. 2021, App. A —
    // the heuristic battery MassiveWeb/RedPajama/Dolma all reuse):
    // word-count bounds, mean word length 3..10, symbol-to-word ratio,
    // >=80% words alphabetic, bullet/ellipsis line ratios, >=2 of the
    // 8 canonical stop words. Every ratio is evaluated as an exact
    // INTEGER cross-multiplication (3*chars <= 10*words, never a float
    // division), so both engines agree cell-for-cell; all seven rules
    // are one codegen'd projection per document + one aggregate —
    // per-rule failure counts cost nothing extra at 100 TB.
    Q("q244_gopher_rules",
      (s, d) => {
        // the canonical list is {the,be,to,of,and,that,have,with};
        // the driver corpus draws from a tech vocab whose only
        // function words are "the"/"a" — two members are swapped in
        // so the >=2-of-8 rule can actually split this corpus (a
        // constant-false rule would hide implementation bugs)
        val stops = Seq("the", "a", "to", "of", "and",
          "that", "have", "with")
        val stopHits = stops.map(w =>
          s"CAST(array_contains(wl, '$w') AS INT)").mkString(" + ")
        Tables.documents(s, d)
          .selectExpr("source",
            "filter(split(text, '\\\\s+'), w -> w != '') AS ws",
            "split(text, '\\n') AS lines")
          .selectExpr("source", "ws", "lines",
            "transform(ws, w -> lower(w)) AS wl",
            "size(ws) AS n_w",
            "aggregate(ws, 0L, (a, w) -> a + length(w)) AS chars",
            "size(filter(ws, w -> w rlike '[a-zA-Z]')) AS alpha_w",
            "size(filter(ws, w -> w rlike '#|\\\\.\\\\.\\\\.')) AS sym_w",
            "size(lines) AS n_l",
            "size(filter(lines, l -> l rlike '^\\\\s*[-*•]'))" +
              " AS bull_l",
            "size(filter(lines, l -> l rlike '(\\\\.\\\\.\\\\.|…)" +
              "\\\\s*$')) AS ell_l")
          .selectExpr("source",
            "CAST(n_w >= 50 AND n_w <= 100000 AS INT) AS r_count",
            "CAST(3 * n_w <= chars AND chars <= 10 * n_w AS INT)" +
              " AS r_meanlen",
            "CAST(10 * sym_w <= n_w AS INT) AS r_symbol",
            "CAST(5 * alpha_w >= 4 * n_w AS INT) AS r_alpha",
            "CAST(10 * bull_l <= 9 * n_l AS INT) AS r_bullet",
            "CAST(10 * ell_l <= 3 * n_l AS INT) AS r_ellipsis",
            s"CAST(($stopHits) >= 2 AS INT) AS r_stop")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("1 - r_count")).as("f_count"),
            sum(expr("1 - r_meanlen")).as("f_meanlen"),
            sum(expr("1 - r_symbol")).as("f_symbol"),
            sum(expr("1 - r_alpha")).as("f_alpha"),
            sum(expr("1 - r_bullet")).as("f_bullet"),
            sum(expr("1 - r_ellipsis")).as("f_ellipsis"),
            sum(expr("1 - r_stop")).as("f_stop"),
            sum(expr("CAST(r_count + r_meanlen + r_symbol + r_alpha" +
              " + r_bullet + r_ellipsis + r_stop = 7 AS INT)"))
              .as("n_keep"))
      },
      {
        val stops = Seq("the", "a", "to", "of", "and",
          "that", "have", "with")
        val stopHits = stops.map(w =>
          s"CAST(list_contains(wl, '$w') AS INT)").mkString(" + ")
        Some(s"""WITH t AS (SELECT source,
              list_filter(string_split_regex(text, '\\s+'),
                w -> w <> '') AS ws,
              string_split(text, chr(10)) AS lines
              FROM documents),
            f AS (SELECT source,
              list_transform(ws, w -> lower(w)) AS wl,
              len(ws) AS n_w,
              list_reduce([0::BIGINT] ||
                list_transform(ws, w -> len(w)::BIGINT),
                (a, x) -> a + x) AS chars,
              len(list_filter(ws,
                w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha_w,
              len(list_filter(ws,
                w -> regexp_matches(w, '#|\\.\\.\\.'))) AS sym_w,
              len(lines) AS n_l,
              len(list_filter(lines,
                l -> regexp_matches(l, '^\\s*[-*•]'))) AS bull_l,
              len(list_filter(lines,
                l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))
                AS ell_l
              FROM t),
            r AS (SELECT source,
              CAST(n_w >= 50 AND n_w <= 100000 AS INT) AS r_count,
              CAST(3 * n_w <= chars AND chars <= 10 * n_w AS INT)
                AS r_meanlen,
              CAST(10 * sym_w <= n_w AS INT) AS r_symbol,
              CAST(5 * alpha_w >= 4 * n_w AS INT) AS r_alpha,
              CAST(10 * bull_l <= 9 * n_l AS INT) AS r_bullet,
              CAST(10 * ell_l <= 3 * n_l AS INT) AS r_ellipsis,
              CAST(($stopHits) >= 2 AS INT) AS r_stop
              FROM f)
            SELECT source, count(*) AS n_docs,
              CAST(sum(1 - r_count) AS BIGINT) AS f_count,
              CAST(sum(1 - r_meanlen) AS BIGINT) AS f_meanlen,
              CAST(sum(1 - r_symbol) AS BIGINT) AS f_symbol,
              CAST(sum(1 - r_alpha) AS BIGINT) AS f_alpha,
              CAST(sum(1 - r_bullet) AS BIGINT) AS f_bullet,
              CAST(sum(1 - r_ellipsis) AS BIGINT) AS f_ellipsis,
              CAST(sum(1 - r_stop) AS BIGINT) AS f_stop,
              CAST(sum(CAST(r_count + r_meanlen + r_symbol + r_alpha
                + r_bullet + r_ellipsis + r_stop = 7 AS INT))
                AS BIGINT) AS n_keep
            FROM r GROUP BY source""")
      },
      doc = "Gopher quality-rule battery (Rae et al. 2021 Appendix A)"),

    // Count-Min-sketch heavy hitters — the third mergeable sketch in
    // the family (bloom q61, HLL q90): one corpus pass builds the CMS
    // via Spark's codegen'd `count_min_sketch` aggregate (map-side
    // partial merge — the mergeability IS the 100 TB shape: per-
    // partition sketches combine associatively, the driver holds one
    // ~KB blob, never the token stream). The candidate set is the
    // small distinct-token table (the same tiny-dimension shape q31's
    // vocab uses); each candidate's sketch estimate is checked against
    // the CMS contract — overestimate-only, within eps*N — and the
    // gate pins zero violations plus the exact counts themselves.
    // Driver-side probing of 50 candidates against one small sketch is
    // sketch-API plumbing, not data movement. eps is deliberately
    // COARSE (2%): the synthetic corpus has ~31 distinct tokens, so a
    // fine sketch would estimate exactly; a 2%-width sketch forces real
    // counter collisions and the gate checks the contract where it has
    // teeth (overestimate-only, within eps * totalCount; seed pinned,
    // so the collision pattern is deterministic on the gate data).
    Q("q263_cms_heavy_hitters",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val toks = Tables.documents(s, d)
          .selectExpr(s"explode($sparkToks) AS tok")
        val skBytes = toks
          .agg(expr("count_min_sketch(tok, 0.02d, 0.999d, 42)"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val nTokens = cms.totalCount()
        val slack = math.ceil(0.02 * nTokens).toLong
        // top-50 by exact count, token as the deterministic tie-break
        val top = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
          .orderBy(col("exact").desc, col("tok")).limit(50)
          .as[(String, Long)].collect()
        val rows = top.toSeq.map { case (tok, exact) =>
          val est = cms.estimateCount(tok.getBytes("UTF-8"))
          val bad = if (est >= exact && est - exact <= slack) 0L else 1L
          ("hh", tok, exact, bad)
        }
        rows.toDF("kind", "key", "n", "v")
          .unionByName(Seq(("sketch", "bounds", rows.size.toLong,
            rows.map(_._4).sum)).toDF("kind", "key", "n", "v"))
      },
      Some(s"""WITH t AS (SELECT unnest($duckToks) AS tok
              FROM documents),
            c AS (SELECT tok, count(*) AS exact FROM t GROUP BY 1
              ORDER BY exact DESC, tok LIMIT 50)
            SELECT 'hh' AS kind, tok AS key, exact AS n,
              CAST(0 AS BIGINT) AS v FROM c
            UNION ALL SELECT 'sketch', 'bounds',
              (SELECT count(*) FROM c), 0"""),
      doc = "Count-Min heavy hitters: mergeable sketch + eps-bound gate"),

    // Stratified EXACT-k reservoir — the curation sampler that keeps
    // precisely k documents per stratum (q87's mixture keeps a RATE;
    // audits and eval-set carving need exact counts): rank each doc by
    // the engine's deterministic replayable uniform and keep the k
    // smallest per language via the bounded per-key heap
    // (plans/TopK.perKey) — O(k) state per stratum, no global sort, no
    // full-partition window; the 100 TB shape. The integer NUMERATOR of
    // the uniform is the rank key, so both engines order on exact
    // integers (no float comparison at the boundary).
    Q("q264_stratified_reservoir",
      (s, d) => {
        import graft.plans.TopK
        val docs = Tables.documents(s, d)
          .selectExpr("lang", "doc_id", "n_chars",
            "-((doc_id * 2654435761L) % 1000003L + 1L) AS neg_u")
        TopK.perKey(docs, Seq("lang"), "neg_u", "doc_id", 100)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum("n_chars").as("kept_chars"),
            max(-col("neg_u")).as("edge_u"))
      },
      Some("""WITH u AS (SELECT lang, doc_id, n_chars,
              (doc_id * 2654435761) % 1000003 + 1 AS u FROM documents),
            r AS (SELECT lang, n_chars, u, row_number() OVER (
                PARTITION BY lang ORDER BY u, doc_id) AS rn FROM u)
            SELECT lang, count(*) AS n_kept,
              CAST(sum(n_chars) AS BIGINT) AS kept_chars,
              CAST(max(u) AS BIGINT) AS edge_u
            FROM r WHERE rn <= 100 GROUP BY 1"""),
      doc = "stratified exact-k reservoir via bounded per-key heap"),

    // Approximate quantiles — the fourth sketch family (bloom q61, HLL
    // q90, CMS q263): per-source document-length p50/p90/p99 via
    // Spark's codegen'd `percentile_approx` (a mergeable KLL-style
    // sketch — partial per-partition summaries combine, the 100 TB
    // shape). Like q90's HLL band, the gate checks the sketch's OWN
    // contract in-engine: each approximate value must sit within the
    // rank window [floor(q*n) - n/acc, ceil(q*n) + n/acc] of the true
    // order statistics (verified by conditional counts against the
    // corpus, approx values broadcast back); the oracle pins zero
    // violations plus the exact per-source stats.
    Q("q265_quantile_sketch",
      (s, d) => {
        val acc = 1000
        val docs = Tables.documents(s, d).select("source", "n_chars")
        val approx = docs.groupBy("source")
          .agg(expr(s"percentile_approx(n_chars, array(0.5D, 0.9D, " +
            s"0.99D), $acc)").as("qv"))
          .selectExpr("source", "qv[0] AS p50", "qv[1] AS p90",
            "qv[2] AS p99")
        val checked = docs.join(broadcast(approx), Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") <= col("p50"), 1L).otherwise(0L))
              .as("le50"),
            sum(when(col("n_chars") < col("p50"), 1L).otherwise(0L))
              .as("lt50"),
            sum(when(col("n_chars") <= col("p90"), 1L).otherwise(0L))
              .as("le90"),
            sum(when(col("n_chars") < col("p90"), 1L).otherwise(0L))
              .as("lt90"),
            sum(when(col("n_chars") <= col("p99"), 1L).otherwise(0L))
              .as("le99"),
            sum(when(col("n_chars") < col("p99"), 1L).otherwise(0L))
              .as("lt99"))
        val viol = checked.selectExpr("source", "n",
          "CAST(n / " + acc + " + 1 AS BIGINT) AS slack",
          "CAST(floor(0.5 * n) AS BIGINT) AS r50",
          "CAST(floor(0.9 * n) AS BIGINT) AS r90",
          "CAST(floor(0.99 * n) AS BIGINT) AS r99",
          "le50", "lt50", "le90", "lt90", "le99", "lt99")
          .selectExpr("source", "n",
            "CAST(le50 < r50 - slack OR lt50 > r50 + slack AS INT) + " +
              "CAST(le90 < r90 - slack OR lt90 > r90 + slack AS INT) + " +
              "CAST(le99 < r99 - slack OR lt99 > r99 + slack AS INT)" +
              " AS violations")
        val stats = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("v"))
          .select(lit("stats").as("kind"), col("source").as("key"),
            col("n"), col("v"))
        viol.select(lit("qok").as("kind"), col("source").as("key"),
            lit(3L).as("n"), col("violations").cast("long").as("v"))
          .unionByName(stats)
      },
      Some("""SELECT 'qok' AS kind, source AS key, CAST(3 AS BIGINT)
                AS n, CAST(0 AS BIGINT) AS v
              FROM (SELECT DISTINCT source FROM documents) s
            UNION ALL
            SELECT 'stats', source, count(*),
              CAST(sum(n_chars) AS BIGINT)
            FROM documents GROUP BY 2"""),
      doc = "approx-quantile sketch gated by its own rank window"),

    // Multi-pattern content scan (the banned-phrase / PII-scrub stage a
    // training pipeline runs over every document): ONE Aho–Corasick
    // pass per doc finds every occurrence of every pattern — O(text),
    // independent of pattern count — with the automaton built once and
    // BROADCAST, the 100 TB shape (vs N per-pattern substring scans,
    // which cost N corpus passes). The pattern set deliberately nests
    // ('he' in 'the', 'or' in 'for'/'work') to put the output-link
    // chain on the hot path, and every pattern is border-free (no
    // proper prefix = suffix) so occurrences can't overlap — which is
    // what lets DuckDB mirror the exact counts with replace()-deletion
    // arithmetic.
    Q("q272_multipattern_scan",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val patterns = Seq("the", "he", "and", "data", "net", "work",
          "or", "ing", "ion", "for", "with", "ter", "est", "ment",
          "pro", "com", "stream", "of the")
        val ac = s.sparkContext.broadcast(
          graft.text.AhoCorasick.build(patterns))
        Tables.documents(s, d).selectExpr("doc_id", "lower(text) AS t")
          .as[(Long, String)]
          .mapPartitions { it =>
            val a = ac.value
            it.flatMap { case (_, t) =>
              val c = a.countAll(t)
              c.indices.iterator.map(i =>
                (a.patterns(i), c(i), if (c(i) > 0) 1L else 0L))
            }
          }.toDF("pattern", "occ", "hit")
          .groupBy("pattern")
          .agg(sum("hit").as("n_docs_hit"), sum("occ").as("n_occ"))
      },
      Some("""WITH pats AS (SELECT unnest(['the', 'he', 'and', 'data',
                'net', 'work', 'or', 'ing', 'ion', 'for', 'with',
                'ter', 'est', 'ment', 'pro', 'com', 'stream',
                'of the']) AS pattern),
            c AS (SELECT pattern,
                (len(t) - len(replace(t, pattern, ''))) // len(pattern)
                  AS occ
              FROM (SELECT lower(text) AS t FROM documents), pats)
            SELECT pattern,
              count(CASE WHEN occ > 0 THEN 1 END) AS n_docs_hit,
              CAST(sum(occ) AS BIGINT) AS n_occ
            FROM c GROUP BY 1"""),
      doc = "Aho-Corasick multi-pattern scrub scan: one broadcast " +
        "automaton pass per document"),

    // HTML main-text extraction (the CommonCrawl stage BEFORE every
    // quality/dedup filter): each document renders into a full page —
    // title, a script whose string literal carries tag/entity traps, a
    // style block, nav/footer boilerplate, and one <p> per text line
    // with &/<,> escaped — and HtmlExtract must recover exactly the
    // title + nav + collapsed nonblank lines + footer. The oracle
    // computes every expected line length from the RAW text alone, so
    // a tag-walk, raw-text-skip, entity, or whitespace defect breaks
    // parity; the position-weighted sum pins line ORDER.
    Q("q274_html_extract",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "source", "text")
          .as[(Long, String, String)]
          .mapPartitions(_.flatMap { case (id, source, text) =>
            def esc(t: String): String = t.replace("&", "&amp;")
              .replace("<", "&lt;").replace(">", "&gt;")
            val body = text.split("\n", -1)
              .map(l => s"<p>${esc(l)}</p>").mkString
            val html =
              s"""<html><head><title>Doc $id</title>""" +
                """<script>var x = "<p>&amp; trap</p>";</script>""" +
                """<style>p { color: red; }</style></head>""" +
                """<body><div id="nav">home &amp; about&#33;</div>""" +
                body +
                """<div class="foot">(c) footer</div></body></html>"""
            val lines = graft.text.HtmlExtract.lines(html)
            lines.iterator.zipWithIndex.map { case (l, i) =>
              (source, l.length.toLong, l.length.toLong * (i + 1))
            }
          })
          .toDF("source", "len", "wlen")
          .groupBy("source")
          .agg(count(lit(1)).as("n_lines"), sum("len").as("n_chars"),
            sum("wlen").as("wsum"))
      },
      Some("""WITH raw AS (SELECT doc_id, source,
                string_split(text, chr(10)) AS ls FROM documents),
            ex AS (SELECT doc_id, source, unnest(ls) AS l,
                generate_subscripts(ls, 1) AS pos FROM raw),
            coll AS (SELECT doc_id, source, pos,
                regexp_replace(regexp_replace(l, '\s+', ' ', 'g'),
                  '^ +| +$', '', 'g') AS cl
              FROM ex),
            keep AS (SELECT doc_id, source, cl,
                row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS ci
              FROM coll WHERE len(cl) > 0),
            perdoc AS (SELECT r.doc_id, r.source,
                coalesce(k.nc, 0) AS nc, coalesce(k.cchars, 0) AS cchars,
                coalesce(k.cw, 0) AS cw,
                4 + len(CAST(r.doc_id AS VARCHAR)) AS lt
              FROM (SELECT DISTINCT doc_id, source FROM raw) r
              LEFT JOIN (SELECT doc_id, count(*) AS nc,
                  sum(len(cl)) AS cchars,
                  sum(len(cl) * (2 + ci)) AS cw
                FROM keep GROUP BY 1) k ON r.doc_id = k.doc_id)
            SELECT source,
              CAST(sum(3 + nc) AS BIGINT) AS n_lines,
              CAST(sum(lt + 13 + cchars + 10) AS BIGINT) AS n_chars,
              CAST(sum(lt * 1 + 13 * 2 + cw + 10 * (3 + nc)) AS BIGINT)
                AS wsum
            FROM perdoc GROUP BY 1"""),
      doc = "HTML main-text extraction: tag walk + raw-text skip + " +
        "entities + block lines, gated from raw-text arithmetic"),

    // Misra-Gries heavy hitters as a NATIVE TypedImperativeAggregate
    // (plans/MisraGries) — the deterministic-bound counter summary
    // next to CMS (q263): k-1 counters, every token with frequency
    // > N/k guaranteed present, estimates under-count by at most N/k
    // and never over. The aggregate's partial buffers merge with the
    // PODS-2012 rule through Spark's ordinary partial/final shuffle —
    // the exact shape a 100 TB heavy-hitter pass runs, with
    // map-side-combined k-sized state instead of a token-cardinality
    // shuffle. The summary CONTENT is merge-order dependent, so the
    // gate (q263/q265's sketch-contract pattern) pins the invariants,
    // which hold under any merge tree: per source, every exact heavy
    // hitter found, zero bound violations, counter budget respected.
    Q("q278_misra_gries",
      (s, d) => {
        val k = 64
        val toks = Tables.documents(s, d)
          .selectExpr("source", s"explode(${sparkToks}) AS tok")
        val mg = toks.groupBy("source")
          .agg(graft.plans.MisraGries(col("tok"), k).as("mg"))
        val entries = mg.select(col("source"),
          explode(col("mg")).as(Seq("tok", "est")))
        // ONE ground-truth corpus pass: the per-(source,tok) exact
        // counts are key-cardinality-sized (vocabulary, not corpus),
        // so they persist for the verification legs, and `totals`
        // derives from them instead of re-aggregating the exploded
        // token stream — the whole gate reads the corpus exactly
        // twice (sketch pass + this pass), never three times.
        val exact = toks.groupBy("source", "tok")
          .agg(count(lit(1)).as("cnt")).persist()
        val totals = exact.groupBy("source")
          .agg(sum("cnt").as("n"))
        val heavy = exact.join(broadcast(totals), Seq("source"))
          .filter(col("cnt") * k > col("n"))
        // the summary side is tiny (≤ k-1 rows per source): broadcast
        // it into both probes so the token-cardinality side never
        // shuffles for the join; inner join is sound — every summary
        // token occurred at least once, so exact always has it
        val heavyFound = heavy
          .join(broadcast(entries), Seq("source", "tok"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("heavy_found"))
        val verdicts = broadcast(entries)
          .join(exact, Seq("source", "tok"))
          .join(broadcast(totals), Seq("source"))
          .groupBy("source")
          .agg(
            sum(when(col("est") > col("cnt"), 1L)
              .otherwise(0L)).as("over_viol"),
            sum(when((col("cnt") - col("est")) * k >
              col("n"), 1L).otherwise(0L)).as("bound_viol"),
            count(lit(1)).as("n_counters"))
        Graft.collectLocal(
          heavy.groupBy("source").agg(count(lit(1)).as("n_heavy"))
            .join(heavyFound, Seq("source"), "left")
            .join(verdicts, Seq("source"))
            .select(col("source"), col("n_heavy"),
              coalesce(col("heavy_found"), lit(0L)).as("heavy_found"),
              (col("over_viol") + col("bound_viol")).as("violations"),
              when(col("n_counters") <= k - 1, 1L).otherwise(0L)
                .as("size_ok")))(exact.unpersist())
      },
      Some(s"""WITH toks AS (SELECT source,
                unnest(${duckToks}) AS tok FROM documents),
            exact AS (SELECT source, tok, count(*) AS cnt
              FROM toks GROUP BY 1, 2),
            totals AS (SELECT source, count(*) AS n
              FROM toks GROUP BY 1)
            SELECT e.source, count(*) AS n_heavy,
              count(*) AS heavy_found,
              CAST(0 AS BIGINT) AS violations,
              CAST(1 AS BIGINT) AS size_ok
            FROM exact e JOIN totals t ON e.source = t.source
            WHERE e.cnt * 64 > t.n
            GROUP BY 1"""),
      doc = "Misra-Gries heavy hitters: native TypedImperativeAggregate" +
        " with mergeable k-counter summaries, invariant-gated"),

    // Q-digest quantiles as a NATIVE TypedImperativeAggregate
    // (plans/QDigest) — the in-repo replacement for q265's
    // percentile_approx dependency, completing the sketch family as
    // first-class code (bloom q61, HLL q90, CMS q263, MG q278). Unlike
    // KLL/t-digest the guarantee is DETERMINISTIC and survives any
    // merge tree: a rank query over universe [0, 2^20) with
    // compression k errs by at most bits/k · n ranks (Shrivastava et
    // al., SenSys 2004). The gate mirrors q265's pattern — the three
    // estimates broadcast back against the corpus and must sit inside
    // their own rank windows with the sketch's OWN slack, exact stats
    // pinned alongside; also registered in SQL as
    // qdigest_quantile(col, q, k).
    Q("q281_qdigest_native",
      (s, d) => {
        val k = 2000
        val bits = 20
        val docs = Tables.documents(s, d).select(col("source"),
          col("n_chars").cast("long").as("n_chars"))
        val approx = docs.groupBy("source")
          .agg(graft.plans.QDigest(col("n_chars"), 0.5, k).as("p50"),
            graft.plans.QDigest(col("n_chars"), 0.9, k).as("p90"),
            graft.plans.QDigest(col("n_chars"), 0.99, k).as("p99"))
        val checked = docs.join(broadcast(approx), Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") <= col("p50"), 1L).otherwise(0L))
              .as("le50"),
            sum(when(col("n_chars") < col("p50"), 1L).otherwise(0L))
              .as("lt50"),
            sum(when(col("n_chars") <= col("p90"), 1L).otherwise(0L))
              .as("le90"),
            sum(when(col("n_chars") < col("p90"), 1L).otherwise(0L))
              .as("lt90"),
            sum(when(col("n_chars") <= col("p99"), 1L).otherwise(0L))
              .as("le99"),
            sum(when(col("n_chars") < col("p99"), 1L).otherwise(0L))
              .as("lt99"))
        val viol = checked.selectExpr("source", "n",
          s"CAST(floor(n * $bits / $k) + 1 AS BIGINT) AS slack",
          "CAST(ceil(0.5 * n) AS BIGINT) AS r50",
          "CAST(ceil(0.9 * n) AS BIGINT) AS r90",
          "CAST(ceil(0.99 * n) AS BIGINT) AS r99",
          "le50", "lt50", "le90", "lt90", "le99", "lt99")
          .selectExpr("source",
            "CAST(le50 < r50 - slack OR lt50 > r50 + slack AS INT) + " +
              "CAST(le90 < r90 - slack OR lt90 > r90 + slack AS INT) + " +
              "CAST(le99 < r99 - slack OR lt99 > r99 + slack AS INT)" +
              " AS violations")
        val stats = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("v"))
          .select(lit("stats").as("kind"), col("source").as("key"),
            col("n"), col("v"))
        viol.select(lit("qok").as("kind"), col("source").as("key"),
            lit(3L).as("n"), col("violations").cast("long").as("v"))
          .unionByName(stats)
      },
      Some("""SELECT 'qok' AS kind, source AS key, CAST(3 AS BIGINT)
                AS n, CAST(0 AS BIGINT) AS v
              FROM (SELECT DISTINCT source FROM documents) s
            UNION ALL
            SELECT 'stats', source, count(*),
              CAST(sum(n_chars) AS BIGINT)
            FROM documents GROUP BY 2"""),
      doc = "native q-digest quantile sketch gated by its own " +
        "deterministic rank-error contract"),

    // The centroid-based quantile family next to q281's tree-based
    // q-digest: a native merging t-digest (plans/TDigest) — universe-
    // free (no bits sizing), (sum, weight) centroids under the k0
    // uniform cap, valid under ANY shuffle merge tree. Gated q281-
    // style by its own rank contract (6n/δ + 1 — documented merging-
    // digest slack, StateSpec-fuzzed margin) via conditional counts,
    // exact per-source stats pinned alongside.
    Q("q287_tdigest_native",
      (s, d) => {
        val delta = 400
        val docs = Tables.documents(s, d).select(col("source"),
          col("n_chars").cast("long").as("n_chars"))
        val approx = docs.groupBy("source")
          .agg(graft.plans.TDigest(col("n_chars"), 0.5, delta).as("p50"),
            graft.plans.TDigest(col("n_chars"), 0.9, delta).as("p90"),
            graft.plans.TDigest(col("n_chars"), 0.99, delta).as("p99"))
        val checked = docs.join(broadcast(approx), Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") <= col("p50"), 1L).otherwise(0L))
              .as("le50"),
            sum(when(col("n_chars") < col("p50"), 1L).otherwise(0L))
              .as("lt50"),
            sum(when(col("n_chars") <= col("p90"), 1L).otherwise(0L))
              .as("le90"),
            sum(when(col("n_chars") < col("p90"), 1L).otherwise(0L))
              .as("lt90"),
            sum(when(col("n_chars") <= col("p99"), 1L).otherwise(0L))
              .as("le99"),
            sum(when(col("n_chars") < col("p99"), 1L).otherwise(0L))
              .as("lt99"))
        val viol = checked.selectExpr("source", "n",
          s"CAST(floor(6 * n / $delta) + 1 AS BIGINT) AS slack",
          "CAST(ceil(0.5 * n) AS BIGINT) AS r50",
          "CAST(ceil(0.9 * n) AS BIGINT) AS r90",
          "CAST(ceil(0.99 * n) AS BIGINT) AS r99",
          "le50", "lt50", "le90", "lt90", "le99", "lt99")
          .selectExpr("source",
            "CAST(le50 < r50 - slack OR lt50 > r50 + slack AS INT) + " +
              "CAST(le90 < r90 - slack OR lt90 > r90 + slack AS INT) + " +
              "CAST(le99 < r99 - slack OR lt99 > r99 + slack AS INT)" +
              " AS violations")
        val stats = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("v"))
          .select(lit("stats").as("kind"), col("source").as("key"),
            col("n"), col("v"))
        viol.select(lit("qok").as("kind"), col("source").as("key"),
            lit(3L).as("n"), col("violations").cast("long").as("v"))
          .unionByName(stats)
      },
      Some("""SELECT 'qok' AS kind, source AS key, CAST(3 AS BIGINT)
                AS n, CAST(0 AS BIGINT) AS v
              FROM (SELECT DISTINCT source FROM documents) s
            UNION ALL
            SELECT 'stats', source, count(*),
              CAST(sum(n_chars) AS BIGINT)
            FROM documents GROUP BY 2"""),
      doc = "native merging t-digest quantile sketch gated by its " +
        "documented rank-error contract"),

    // WARC + gzip members (text/Warc): the container a crawl corpus
    // ships in — each doc renders into its own `.warc.gz` (warcinfo
    // member + HTTP-response member, the Common Crawl per-record-
    // member layout), then the reader walks the concatenated gzip
    // members (RFC 1952 framing over the JDK's raw inflate,
    // CRC32 + ISIZE enforced), parses the WARC record grammar, splits
    // the HTTP header block, and must recover every doc's body, URI
    // doc id and byte counts exactly. mapPartitions, O(doc) memory,
    // no state — a poisoned shard yields its decodable prefix, never
    // a throw (WarcSpec fuzzes that).
    Q("q288_warc_pipeline",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "source", "text")
          .as[(Long, String, String)]
          .mapPartitions(_.flatMap { case (id, source, text) =>
            import graft.text.Warc
            val body = text.getBytes("UTF-8")
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: " +
              "text/html; charset=utf-8\r\n\r\n").getBytes("ISO-8859-1")
            val info = Warc.record(Seq(
              ("WARC-Type", "warcinfo"),
              ("WARC-Record-ID", s"<urn:uuid:info-$id>")),
              "software: graft\r\n".getBytes("ISO-8859-1"))
            val resp = Warc.record(Seq(
              ("WARC-Type", "response"),
              ("WARC-Target-URI", s"https://corpus.example/$id"),
              ("WARC-Record-ID", s"<urn:uuid:resp-$id>"),
              ("Content-Type", "application/http; msgtype=response")),
              http ++ body)
            val file = Warc.gzip(info) ++ Warc.gzip(resp)
            val back = Warc.readAuto(file)
            back.iterator.filter(_.warcType == "response").flatMap { r =>
              Warc.httpSplit(r.payload).iterator.map { case (status, b) =>
                require(status.startsWith("HTTP/1.1 200"), status)
                val uriId = r.targetUri.substring(
                  r.targetUri.lastIndexOf('/') + 1).toLong
                (source, new String(b, "UTF-8").length.toLong,
                  b.length.toLong, uriId)
              }
            }
          })
          .toDF("source", "chars", "bytes", "uri_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("sum_chars"),
            sum("bytes").as("sum_bytes"), sum("uri_id").as("sum_ids"))
      },
      Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS sum_chars,
              CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
              CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents GROUP BY source"""),
      doc = "WARC/1.1 + gzip-member container round-trip: CC-shaped " +
        ".warc.gz build, member walk, record grammar, HTTP split"),

    // robots.txt (RFC 9309, text/Robots): the crawl-admission filter —
    // per host a deterministic robots body exercises group selection
    // (named bot vs the `*` fallback), longest-match precedence
    // (Allow under a broader Disallow), the `*` wildcard and the `$`
    // end anchor; each doc's path cycles through the decision cases
    // for BOTH a named agent and a fallback agent. parse+decide run
    // inside mapPartitions (ruleset is broadcast-sized per host); the
    // oracle mirrors the per-case ground truth.
    Q("q291_robots_filter",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "source").as[(Long, String)]
          .mapPartitions(_.map { case (id, source) =>
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
            val groups = Robots.parse(robots)
            val path = (id % 6) match {
              case 0 => s"/private$h/data$id"
              case 1 => s"/private$h/ok/p$id"
              case 2 => s"/tmp/f$id"
              case 3 => s"/files/r$id.json"
              case 4 => s"/files/r$id.jsonx"
              case _ => s"/pub/a$id"
            }
            val named = Robots.allowed(groups, "graftbot/1.0", path)
            val fallback = Robots.allowed(groups, "otherbot", path)
            (source, if (named) 1L else 0L, if (named) id else 0L,
              if (fallback) 1L else 0L)
          })
          .toDF("source", "ok", "okid", "okOther")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ok").as("n_allowed"),
            sum("okid").as("sum_allowed_ids"),
            sum("okOther").as("n_allowed_fallback"))
      },
      Some("""SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN doc_id % 6 IN (0, 3) THEN 0 ELSE 1
                END) AS BIGINT) AS n_allowed,
              CAST(sum(CASE WHEN doc_id % 6 IN (0, 3) THEN 0
                ELSE doc_id END) AS BIGINT) AS sum_allowed_ids,
              CAST(sum(CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0
                END) AS BIGINT) AS n_allowed_fallback
            FROM documents GROUP BY source"""),
      doc = "robots.txt RFC 9309: group selection, longest-match, " +
        "wildcard + $ anchor, named vs fallback agents"),

    // KMV / bottom-k theta sketch (plans/Kmv, SQL kmv_sketch): the
    // SET-OPERATION member of the sketch family — the sketch VALUE is
    // an ascending array of the k smallest distinct 63-bit hashes, so
    // union and Jaccard run downstream as plain codegen'd array
    // expressions (array_union/array_sort/slice/array_intersect), no
    // further custom code. Per event_type cardinality, pairwise union
    // and intersection estimates are checked against exact values:
    // with k=256 the sf0.01 sketches (150 distinct users) are EXACT
    // (sub-k inputs keep the whole hash set) and the sf0.1 sketches
    // (1500 distinct) exercise the (k−1)/u_k estimator inside its
    // band; StateSpec carries the tight statistical contract + the
    // merge-tree BIT-INVARIANCE (k smallest distinct values cannot
    // depend on merge order).
    Q("q297_kmv_sketch",
      (s, d) => {
        val k = 256
        val ev = Tables.events(s, d).selectExpr("event_type",
          "cast(user_id as string) as u")
        val sk = ev.groupBy("event_type")
          .agg(graft.plans.Kmv(col("u"), k).as("s"),
            countDistinct("u").as("exact"))
          .persist() // type-cardinality-sized (5 rows x k longs)
        def est(sc: org.apache.spark.sql.Column) = when(size(sc) < k, size(sc).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(9.223372036854776e18) /
            element_at(sc, k).cast("double"))
        val cardRows = sk
          .select(lit("card").as("key0"), col("event_type").as("key"),
            col("exact").as("n"),
            when(abs(est(col("s")) - col("exact")) >
              greatest(lit(5.0), col("exact") * 0.30), 1L)
              .otherwise(0L).as("v"))
        val a = sk.selectExpr("event_type AS ta", "s AS sa",
          "exact AS ea")
        val b = sk.selectExpr("event_type AS tb", "s AS sb",
          "exact AS eb")
        val interExact = ev.distinct()
          .join(ev.distinct().withColumnRenamed("event_type", "tb"),
            Seq("u"))
          .filter(col("event_type") < col("tb"))
          .groupBy(col("event_type").as("ta"), col("tb"))
          .agg(count(lit(1)).as("inter_exact"))
        val pairs = a.join(b, col("ta") < col("tb"))
          .join(broadcast(interExact), Seq("ta", "tb"), "left")
          .withColumn("inter_exact",
            coalesce(col("inter_exact"), lit(0L)))
          .withColumn("ux", expr(
            s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
          .withColumn("u_est", est(col("ux")))
          .withColumn("u_exact", col("ea") + col("eb") -
            col("inter_exact"))
          .withColumn("jacc", expr(
            "size(array_intersect(array_intersect(ux, sa), sb))")
            .cast("double") / size(col("ux")))
          .withColumn("i_est", col("jacc") * col("u_est"))
        val pairRows = pairs.select(lit("pair").as("key0"),
          concat(col("ta"), lit("|"), col("tb")).as("key"),
          col("u_exact").as("n"),
          (when(abs(col("u_est") - col("u_exact")) >
            greatest(lit(5.0), col("u_exact") * 0.30), 1L)
            .otherwise(0L) +
           when(abs(col("i_est") - col("inter_exact")) >
            greatest(lit(10.0), col("u_exact") * 0.15), 1L)
            .otherwise(0L)).as("v"))
        Graft.collectLocal(cardRows.unionByName(pairRows)
          .select(col("key0").as("kind"), col("key"), col("n"),
            col("v")))(sk.unpersist())
      },
      Some("""WITH d AS (SELECT DISTINCT event_type,
                CAST(user_id AS VARCHAR) AS u FROM events),
            c AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
            inter AS (SELECT x.event_type AS ta, y.event_type AS tb,
                count(*) AS i
              FROM d x JOIN d y ON x.u = y.u
                AND x.event_type < y.event_type
              GROUP BY 1, 2),
            pairs AS (SELECT a.event_type AS ta, b.event_type AS tb,
                a.n AS na, b.n AS nb
              FROM c a JOIN c b ON a.event_type < b.event_type)
            SELECT 'card' AS kind, event_type AS key,
              CAST(n AS BIGINT) AS n, CAST(0 AS BIGINT) AS v
            FROM c
            UNION ALL
            SELECT 'pair', p.ta || '|' || p.tb,
              CAST(p.na + p.nb - coalesce(i.i, 0) AS BIGINT), 0
            FROM pairs p LEFT JOIN inter i
              ON i.ta = p.ta AND i.tb = p.tb"""),
      doc = "KMV bottom-k sketch: set-operation cardinality — union " +
        "and Jaccard/intersection as plain array expressions, exact " +
        "below k, banded estimator above"),

    // Unicode NFC normalization — the text-cleaning stage every
    // multilingual corpus pipeline runs before dedup/tokenization
    // (byte-distinct but canonically-equal strings poison exact-hash
    // dedup). Each doc's text is decorated with a doc_id-derived
    // suffix mixing combining sequences (e + U+0301), precomposed
    // forms (U+00E9), and a singleton (U+212B ANGSTROM SIGN → Å);
    // Spark normalizes with the JDK's Normalizer, the oracle with
    // DuckDB's own nfc_normalize — two INDEPENDENT Unicode
    // implementations must agree on changed-doc counts and
    // post-normalization code-point lengths.
    Q("q298_nfc_normalize",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id", "source", "text")
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, source, text) =>
            val suffix = (id % 4) match {
              case 0 => " e\u0301tat"   // combining acute -> U+00E9
              case 1 => " \u00e9tat"    // already NFC
              case 2 => " \u212b unit"  // singleton ANGSTROM -> U+00C5
              case _ => ""
            }
            val raw = text + suffix
            val norm = java.text.Normalizer.normalize(raw,
              java.text.Normalizer.Form.NFC)
            (source,
              if (norm != raw) 1L else 0L,
              norm.codePointCount(0, norm.length).toLong)
          })
          .toDF("source", "changed", "n_cp")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("changed").as("n_changed"),
            sum("n_cp").as("sum_cp"))
      },
      Some("""WITH deco AS (SELECT source,
                text || CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN ' e' || chr(769) || 'tat'
                  WHEN 1 THEN ' ' || chr(233) || 'tat'
                  WHEN 2 THEN ' ' || chr(8491) || ' unit'
                  ELSE '' END AS raw
              FROM documents)
            SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN nfc_normalize(raw) != raw THEN 1
                ELSE 0 END) AS BIGINT) AS n_changed,
              CAST(sum(length(nfc_normalize(raw))) AS BIGINT) AS sum_cp
            FROM deco GROUP BY 1"""),
      doc = "Unicode NFC normalization: JDK Normalizer vs DuckDB " +
        "nfc_normalize — combining sequences, precomposed forms, " +
        "singletons"),

    // sitemaps.org XML (text/Sitemap) — the robots.txt companion: a
    // crawl-discovery pipeline reads the sitemap index, fans out to
    // child sitemaps, and feeds <loc> URLs into the frontier. Per doc
    // either an index (every 5th) or a urlset whose entries carry
    // entity-escaped locs (&amp;), CDATA locs, lastmod and priority;
    // the walker must recover every URL's doc-derived id, the kind
    // split, and the lastmod counts. Oracle mirrors the arithmetic.
    Q("q300_sitemap",
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.documents(s, d)
          .selectExpr("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            import graft.text.Sitemap
            val xml = if (id % 5 == 0) {
              val kids = (0 until (2 + id % 3).toInt).map { k =>
                s"<sitemap><loc>https://x/maps/${id * 10 + k}.xml" +
                  "</loc></sitemap>"
              }.mkString
              "<?xml version=\"1.0\"?><sitemapindex xmlns=\"" +
                "http://www.sitemaps.org/schemas/sitemap/0.9\">" +
                kids + "</sitemapindex>"
            } else {
              val urls = (0 until (2 + id % 3).toInt).map { k =>
                val loc =
                  if ((id + k) % 4 == 0)
                    s"<loc><![CDATA[https://x/p?id=${id * 10 + k}&v=1]]></loc>"
                  else
                    s"<loc>https://x/p?id=${id * 10 + k}&amp;v=1</loc>"
                val lastmod =
                  if ((id + k) % 2 == 0)
                    s"<lastmod>2026-0${1 + (id + k) % 9}-01</lastmod>"
                  else ""
                s"<url>$loc$lastmod" +
                  s"<priority>0.${(id + k) % 10}</priority></url>"
              }.mkString
              "<?xml version=\"1.0\"?><urlset xmlns=\"" +
                "http://www.sitemaps.org/schemas/sitemap/0.9\">" +
                urls + "</urlset>"
            }
            val doc = Sitemap.parse(xml)
            doc.entries.iterator.map { e =>
              val uid = e.loc.substring(e.loc.lastIndexOf('=') match {
                case -1 => e.loc.lastIndexOf('/') + 1
                case _ =>
                  e.loc.indexOf("id=") + 3
              })
              val idNum = uid.takeWhile(_.isDigit) match {
                case "" => e.loc.substring(e.loc.lastIndexOf('/') + 1)
                  .takeWhile(_.isDigit).toLong
                case x => x.toLong
              }
              (doc.kind, idNum,
                if (e.lastmod.nonEmpty) 1L else 0L)
            }
          })
          .toDF("kind", "uid", "has_lastmod")
          .groupBy("kind")
          .agg(count(lit(1)).as("n_urls"), sum("uid").as("sum_ids"),
            sum("has_lastmod").as("n_lastmod"))
      },
      Some("""WITH docs AS (SELECT doc_id,
                CAST(2 + doc_id % 3 AS INT) AS nk,
                doc_id % 5 = 0 AS isidx
              FROM documents),
            entries AS (SELECT d.doc_id, d.isidx,
                d.doc_id * 10 + k.k AS uid,
                CASE WHEN NOT d.isidx AND (d.doc_id + k.k) % 2 = 0
                  THEN 1 ELSE 0 END AS has_lastmod
              FROM docs d,
                unnest(generate_series(0, CAST(d.nk - 1 AS BIGINT)))
                  AS k(k))
            SELECT CASE WHEN isidx THEN 'sitemapindex' ELSE 'urlset'
                END AS kind,
              count(*) AS n_urls,
              CAST(sum(uid) AS BIGINT) AS sum_ids,
              CAST(sum(has_lastmod) AS BIGINT) AS n_lastmod
            FROM entries GROUP BY 1"""),
      doc = "sitemaps.org XML: urlset + sitemapindex walk, entity " +
        "and CDATA locs, lastmod/priority extraction"),

    // A TRAINED quality/topic classifier as a pipeline operator — the
    // nearest-centroid (Rocchio) family fastText-style filters reduce
    // to when the features are hashed bag-of-words counts. Train:
    // per-class summed bucket-count vectors (integers — one
    // aggregation over the 80% train split). Score: integer dot
    // products of each held-out doc against the 5 centroids through a
    // BROADCAST of the 5×64-row model. The argmax over dot_l / T_l
    // (length-normalized) is computed EXACTLY: a pairwise tournament
    // on cross-multiplied integers (dot_i·T_j vs dot_j·T_i, lang
    // tiebreak), so no float log-prob boundary can ever diverge
    // between engines. (At 100 TB the products need DECIMAL(38) or
    // log-space scoring with a margin gate — the 63-bit headroom here
    // is sf-bounded, documented.) Output: train-split class profile +
    // the held-out confusion matrix.
    Q("q306_rocchio_classifier",
      (s, d) => {
        val B = 64
        val docs = Tables.documents(s, d)
        val train = docs.filter(expr("doc_id % 5 != 0"))
        val test = docs.filter(expr("doc_id % 5 = 0"))
        def buckets(df: org.apache.spark.sql.DataFrame) =
          df.selectExpr("doc_id", "lang",
            s"explode(transform($sparkToks, " +
              s"t -> ${sparkTokHash("t")} % $B)) as b")
        val sp = s
        import sp.implicits._
        // the model: 5 langs × 64 buckets of integer counts + totals.
        // COLLECTED once — it is ≤ 320 rows by construction (the
        // trained model a serving pipeline ships), and deriving
        // totals/classes/profile from the collected copy keeps the
        // final plan at one training scan instead of four (PlanAudit
        // repeated-scan: documents.parquet ×6 → 3)
        val centRows = buckets(train).groupBy("lang", "b")
          .agg(count(lit(1)).as("c"))
          .as[(String, Long, Long)].collect().toSeq
        val totalsLocal = centRows.groupBy(_._1).view
          .mapValues(_.map(_._3).sum).toMap
        val model = broadcast(centRows
          .map { case (l, b, c) => (l, b, c, totalsLocal(l)) }
          .toDF("clang", "b", "c", "t_l"))
        // integer dots per (doc, class); docs with zero overlap score 0
        val dots = buckets(test)
          .groupBy("doc_id", "lang", "b")
          .agg(count(lit(1)).as("db"))
          .join(model, Seq("b"))
          .groupBy(col("doc_id"), col("lang"), col("clang"))
          .agg(sum(expr("db * c")).as("dot"), first("t_l").as("t_l"))
        // every class must appear for every doc (zero-overlap classes
        // too) so the argmax is complete: re-key on the broadcast
        // class list with a left join
        val classes = broadcast(totalsLocal.toSeq.sortBy(_._1)
          .toDF("clang", "t_all"))
        val full = test.select("doc_id", "lang").crossJoin(classes)
          .join(dots.select("doc_id", "clang", "dot"),
            Seq("doc_id", "clang"), "left")
          .select(col("doc_id"), col("lang"), col("clang"),
            coalesce(col("dot"), lit(0L)).as("dot"), col("t_all"))
        // exact argmax: i beats j iff dot_i·T_j > dot_j·T_i (integer
        // cross-multiply — a total order over the 5 rational scores,
        // ties to the smaller lang). The per-doc 5-row panel collapses
        // with an array_sort comparator instead of a 5×5 tournament
        // self-join: the join carried the WHOLE dots lineage twice
        // (PlanAudit's repeated-scan rule flagged documents.parquet
        // ×11 in one plan), while the argmax is one aggregation pass —
        // the oracle keeps the tournament form and must agree
        val wins = full
          .groupBy(col("doc_id"), col("lang").as("actual"))
          .agg(collect_list(struct(col("clang"), col("dot"),
            col("t_all"))).as("cs"))
          .selectExpr("doc_id", "actual",
            """element_at(array_sort(cs, (l, r) -> CASE
                 WHEN l.dot * r.t_all > r.dot * l.t_all THEN -1
                 WHEN l.dot * r.t_all < r.dot * l.t_all THEN 1
                 WHEN l.clang < r.clang THEN -1
                 WHEN l.clang > r.clang THEN 1 ELSE 0 END), 1).clang
               AS predicted""")
        val confusion = wins.groupBy("actual", "predicted")
          .agg(count(lit(1)).as("n"))
          .selectExpr("'confusion' AS kind", "actual",
            "predicted AS predicted", "n")
        val profile = totalsLocal.toSeq.sortBy(_._1)
          .map { case (l, t) => ("train", l, l, t) }
          .toDF("kind", "actual", "predicted", "n")
        confusion.unionByName(profile)
      },
      Some(s"""WITH tb AS (SELECT doc_id, lang,
                unnest(list_transform($duckToks,
                  t -> ${duckTokHash("t")} % 64)) AS b
              FROM documents),
            cent AS (SELECT lang AS clang, b, count(*) AS c
              FROM tb WHERE doc_id % 5 != 0 GROUP BY 1, 2),
            totals AS (SELECT clang, CAST(sum(c) AS BIGINT) AS t_all
              FROM cent GROUP BY 1),
            db AS (SELECT doc_id, lang, b, count(*) AS db
              FROM tb WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
            dots AS (SELECT db.doc_id, db.lang, cent.clang,
                CAST(sum(db.db * cent.c) AS BIGINT) AS dot
              FROM db JOIN cent ON cent.b = db.b
              GROUP BY 1, 2, 3),
            full_s AS (SELECT d.doc_id, d.lang, t.clang,
                COALESCE(dots.dot, 0) AS dot, t.t_all
              FROM (SELECT DISTINCT doc_id, lang FROM documents
                    WHERE doc_id % 5 = 0) d
              CROSS JOIN totals t
              LEFT JOIN dots ON dots.doc_id = d.doc_id
                AND dots.clang = t.clang),
            wins AS (SELECT x.doc_id, x.lang AS actual,
                x.clang AS predicted,
                sum(CASE WHEN x.dot * y.t_all > y.dot * x.t_all
                      THEN 1
                    WHEN x.dot * y.t_all = y.dot * x.t_all
                      AND x.clang < y.clang THEN 1
                    ELSE 0 END) AS nw
              FROM full_s x JOIN full_s y
                ON y.doc_id = x.doc_id AND y.clang != x.clang
              GROUP BY 1, 2, 3)
            SELECT 'confusion' AS kind, actual, predicted,
              count(*) AS n
            FROM wins WHERE nw = 4 GROUP BY 2, 3
            UNION ALL
            SELECT 'train', clang, clang, t_all FROM totals"""),
      doc = "trained nearest-centroid classifier: hashed-BoW integer " +
        "centroids, broadcast model, exact cross-multiplied argmax, " +
        "held-out confusion matrix"),

    // Leakage-safe corpus splitting: train/val/test assigned by a hash
    // of the provenance DOMAIN (the source field — registrable domain
    // in a web corpus), never per-document, so near-duplicate pages
    // from one site can never straddle the held-out boundary. The
    // contract is VERIFIED from the assigned rows, not assumed: the
    // straddle count (domains present in >1 split) must come out 0,
    // and per-split doc/domain/token masses quantify the 80/10/10
    // hash-realized proportions. One pass, one aggregation — the split
    // column is a pure function of the row, so at 100 TB this is a
    // mapper plus a 3-row rollup (plus the distinct-domain rollup).
    Q("q307_leakage_split",
      (s, d) => {
        val splitExpr = s"""CASE
          WHEN ${sparkTokHash("source")} % 100 < 80 THEN 'train'
          WHEN ${sparkTokHash("source")} % 100 < 90 THEN 'val'
          ELSE 'test' END"""
        val assigned = Tables.documents(s, d)
          .selectExpr("doc_id", "source",
            s"size($sparkToks) as ntok", s"$splitExpr as split")
        val perSplit = assigned.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("source").as("n_domains"),
            sum("ntok").as("n_tokens"))
          .selectExpr("'split' AS kind", "split AS key", "n_docs",
            "n_domains", "n_tokens")
        val straddle = assigned.groupBy("source")
          .agg(countDistinct("split").as("nsp"))
          .agg(sum(when(col("nsp") > 1, 1L).otherwise(0L))
            .as("n_leaky"))
          .selectExpr("'leakage' AS kind", "'straddling_domains' AS key",
            "n_leaky AS n_docs", "CAST(0 AS BIGINT) AS n_domains",
            "CAST(0 AS BIGINT) AS n_tokens")
        perSplit.unionByName(straddle)
      },
      Some(s"""WITH assigned AS (SELECT doc_id, source,
                len($duckToks) AS ntok,
                CASE WHEN ${duckTokHash("source")} % 100 < 80
                  THEN 'train'
                WHEN ${duckTokHash("source")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
              FROM documents)
            SELECT 'split' AS kind, split AS key, count(*) AS n_docs,
              count(DISTINCT source) AS n_domains,
              CAST(sum(ntok) AS BIGINT) AS n_tokens
            FROM assigned GROUP BY 2
            UNION ALL
            SELECT 'leakage', 'straddling_domains',
              CAST(sum(CASE WHEN nsp > 1 THEN 1 ELSE 0 END) AS BIGINT),
              0, 0
            FROM (SELECT source, count(DISTINCT split) AS nsp
                  FROM assigned GROUP BY 1)"""),
      doc = "leakage-safe split: domain-keyed train/val/test " +
        "assignment with a verified zero-straddle contract"),

    // Deterministic stratified sampling — the balanced-subset
    // extraction a corpus runs for eval sets and ablations: every
    // (lang, source) stratum contributes EXACTLY min(5, |stratum|)
    // documents, chosen by md5-hash priority (reproducible across
    // runs, machines, and engines — no RNG state anywhere). One
    // window rank per stratum; at 100 TB this is the classic
    // top-k-per-key shuffle on the stratum key, nothing else. The
    // gate pins per-stratum sample sizes, the exact sampled id mass
    // (the hash order itself, not just counts), and the token mass
    // the sample carries.
    Q("q311_stratified_sample",
      (s, d) => {
        val w = Window.partitionBy("lang", "source")
          .orderBy(col("pri"), col("doc_id"))
        Tables.documents(s, d)
          .selectExpr("doc_id", "lang", "source",
            s"size($sparkToks) as ntok",
            s"${sparkTokHash("cast(doc_id as string)")} as pri")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_sampled"),
            sum("doc_id").as("id_mass"),
            sum("ntok").as("token_mass"))
      },
      Some(s"""WITH pri AS (SELECT doc_id, lang, source,
                len($duckToks) AS ntok,
                ${duckTokHash("CAST(doc_id AS VARCHAR)")} AS pri
              FROM documents),
            rk AS (SELECT *, row_number() OVER
                (PARTITION BY lang, source ORDER BY pri, doc_id)
                AS rk
              FROM pri)
            SELECT lang, source, count(*) AS n_sampled,
              CAST(sum(doc_id) AS BIGINT) AS id_mass,
              CAST(sum(ntok) AS BIGINT) AS token_mass
            FROM rk WHERE rk <= 5 GROUP BY 1, 2"""),
      doc = "deterministic stratified sampling: exact per-stratum " +
        "top-k by hash priority, reproducible with no RNG state")
  )
}
