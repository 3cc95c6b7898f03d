package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

import Shared._

/** Text analysis ([[graft.operators.TextAnalysis]]): tokenization, BM25, BPE,
  * language ID, n-gram statistics, lexical measures and HTML extraction.
  */
object TextQueries {

  /** q388 page fixture: nav / heading / two body paragraphs (real doc
    * text) / sidebar (anchor-dominated unless the long-text arm is
    * present) / footer — every block class the density gate must
    * separate, built so each regime (too-short, anchor-dominated,
    * kept prose) occurs.
    */
  private def mainContentHtml(dd: Column, text: Column): Column =
    concat(
      lit("<html><body>\n<div class=\"nav\"><a href=\"/a\">Home</a> " +
        "<a href=\"/b\">About</a> <a href=\"/c\">Contact</a></div>\n"),
      lit("<h1>Doc "), dd, lit(" heading</h1>\n<p>"),
      substring(text, 1, 120), lit("</p>\n<p>"),
      substring(text, 121, 120), lit("</p>\n<div>Sidebar listing "),
      dd % 7, lit(": <a href=\"/x\">ref"), dd % 9,
      lit("</a> <a href=\"/y\">more"), dd % 5, lit("</a>"),
      when(dd % 2 === 0, concat(lit(" "), substring(text, 241, 80)))
        .otherwise(lit("")),
      lit("</div>\n<div class=\"footer\"><a href=\"/p\">Privacy</a> | " +
        "<a href=\"/t\">Terms</a></div>\n</body></html>"))

  /** q186 oracle: BPE replayed as `k` unrolled CTE rounds — per round,
    * weighted adjacent-pair counts, (cnt DESC, lhs, rhs) argmax, then
    * the same left-to-right non-overlapping merge fold (state = rebuilt
    * symbol string, ' ' separator) the Spark operator runs.
    */
  private def bpeOracleSql(k: Int): String = {
    val union = (1 to k).map(i =>
      s"SELECT $i AS step, l AS lhs, r AS rhs, cnt AS freq FROM b$i")
      .mkString("\nUNION ALL ")
    s"${bpeCtes(k)}\n$union"
  }

  /** q187 oracle: the same unrolled merge rounds, final census over the
    * post-merge symbol frame s`k` — exact integer freq / distinct-word
    * counts per resulting token.
    */
  private def bpeEncodeOracleSql(k: Int): String =
    s"""${bpeCtes(k)}
       |SELECT tok AS token, sum(c)::BIGINT AS freq,
       |  count(DISTINCT w)::BIGINT AS n_words
       |FROM (SELECT w, c, unnest(s) AS tok FROM s$k)
       |GROUP BY tok""".stripMargin

  /** q255 oracle: the q186/q187 unrolled merge rounds, then the
    * per-DOCUMENT encode — doc words join the final word→symbols frame
    * s`k` (total coverage: the vocabulary trained on this corpus),
    * symbols map to sorted-vocab ids, ids string-join in (wpos, j)
    * order. Fertility = tokens/words, 4dp, NULL for token-less docs.
    */
  private def bpeEncodeCorpusOracleSql(k: Int): String =
    s"""${bpeCtes(k)},
       |vocab AS (SELECT tok AS token,
       |    (row_number() OVER (ORDER BY tok))::BIGINT - 1 AS tid
       |  FROM (SELECT DISTINCT unnest(s) AS tok FROM s$k)),
       |dbase AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |dw AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS wpos,
       |    toks FROM dbase WHERE len(toks) > 0),
       |dw2 AS (SELECT doc_id, wpos, toks[wpos] AS w FROM dw),
       |ds AS (SELECT d.doc_id, d.wpos, s.s AS syms
       |  FROM dw2 d JOIN s$k s ON d.w = s.w),
       |dt AS (SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS j,
       |    syms FROM ds),
       |dtid AS (SELECT t.doc_id, t.wpos, t.j, v.tid
       |  FROM (SELECT doc_id, wpos, j, syms[j] AS sym FROM dt) t
       |  JOIN vocab v ON t.sym = v.token),
       |per AS (SELECT doc_id, count(DISTINCT wpos)::BIGINT AS n_words,
       |    count(*)::BIGINT AS n_tokens,
       |    string_agg(tid::VARCHAR, ' ' ORDER BY wpos, j) AS token_ids
       |  FROM dtid GROUP BY doc_id)
       |SELECT b.doc_id, coalesce(p.n_words, 0)::BIGINT AS n_words,
       |  coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       |  CASE WHEN coalesce(p.n_words, 0) > 0
       |    THEN round(p.n_tokens::DOUBLE / p.n_words::DOUBLE, 4) END
       |    AS fertility,
       |  coalesce(p.token_ids, '') AS token_ids
       |FROM dbase b LEFT JOIN per p USING (doc_id)""".stripMargin

  /** q262: the [[bpeEncodeCorpusOracleSql]] per-doc chain rolled up per
    * language — exact sums, one divide, empty-doc count.
    */
  private def bpeEncodeFertilityOracleSql(k: Int): String =
    s"""${bpeCtes(k)},
       |dbase AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |dw AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS wpos,
       |    toks FROM dbase WHERE len(toks) > 0),
       |dw2 AS (SELECT doc_id, wpos, toks[wpos] AS w FROM dw),
       |ds AS (SELECT d.doc_id, d.wpos, s.s AS syms
       |  FROM dw2 d JOIN s$k s ON d.w = s.w),
       |dt AS (SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS j
       |  FROM ds),
       |per AS (SELECT doc_id, count(DISTINCT wpos)::BIGINT AS n_words,
       |    count(*)::BIGINT AS n_tokens
       |  FROM dt GROUP BY doc_id),
       |pd AS (SELECT b.doc_id, coalesce(p.n_words, 0)::BIGINT AS n_words,
       |    coalesce(p.n_tokens, 0)::BIGINT AS n_tokens
       |  FROM dbase b LEFT JOIN per p USING (doc_id))
       |SELECT d.lang, count(*)::BIGINT AS n_docs,
       |  CAST(sum(pd.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(pd.n_tokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN sum(pd.n_words) > 0
       |    THEN round(sum(pd.n_tokens)::DOUBLE / sum(pd.n_words)::DOUBLE, 4)
       |    END AS fertility,
       |  sum(CASE WHEN pd.n_tokens = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
       |FROM pd JOIN documents d USING (doc_id)
       |GROUP BY d.lang""".stripMargin

  private def bpeCtes(k: Int): String = {
    val base =
      s"""WITH w0 AS (SELECT w, count(*) AS c
         |  FROM (SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w),
         |s0 AS (SELECT w, c,
         |    list_transform(generate_series(1, length(w)), i -> w[i]) AS s
         |  FROM w0)""".stripMargin
    val iters = (1 to k).map { i =>
      s"""p$i AS (SELECT u.l AS l, u.r AS r, sum(c)::BIGINT AS cnt FROM (
         |    SELECT c, unnest(list_transform(generate_series(1, len(s) - 1),
         |      j -> {'l': s[j], 'r': s[j + 1]})) AS u
         |    FROM s${i - 1} WHERE len(s) >= 2)
         |  GROUP BY u.l, u.r),
         |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS (SELECT w, c, string_split(list_reduce(list_prepend('', s),
         |    (acc, x) -> CASE WHEN acc = '' THEN x
         |      WHEN x = b$i.r AND regexp_extract(acc, '[^ ]+$$') = b$i.l
         |        THEN substr(acc, 1, length(acc)
         |          - length(regexp_extract(acc, '[^ ]+$$'))) || b$i.l || b$i.r
         |      ELSE acc || ' ' || x END), ' ') AS s
         |  FROM s${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters"
  }

  /** q27's heuristic replayed in SQL, generated from the SAME
    * [[TextAnalysis.languageProfiles]]/[[TextAnalysis.bigramProfiles]]
    * maps the engine uses — one source of truth for the profiles.
    */
  private def langIdOracleSql: String = {
    def sqlList(xs: Seq[String]): String =
      xs.map(x => "'" + x.replace("'", "''") + "'").mkString("[", ",", "]")
    val langs = TextAnalysis.languageProfiles.keys.toSeq.sorted
    val scoreCols = langs.map { lang =>
      val sw = sqlList(TextAnalysis.languageProfiles(lang))
      val bg = sqlList(TextAnalysis.bigramProfiles(lang).toSeq.sorted)
      s"""  (CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains($sw, t)))::DOUBLE / len(toks) ELSE 0.0 END) * 0.7
         |  + (CASE WHEN len(bg) > 0 THEN len(list_intersect(bg, $bg))::DOUBLE / len(bg) ELSE 0.0 END) * 0.3 AS s_$lang""".stripMargin
    }
    // replay langIdColumns' fold exactly: strictly-greater replaces, so
    // ties keep the earlier language code
    var bestLang = s"'${langs.head}'"
    var bestScore = s"s_${langs.head}"
    langs.tail.foreach { l =>
      bestLang = s"CASE WHEN s_$l > $bestScore THEN '$l' ELSE $bestLang END"
      bestScore = s"CASE WHEN s_$l > $bestScore THEN s_$l ELSE $bestScore END"
    }
    s"""WITH base AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |bg AS (SELECT doc_id, toks,
       |  list_distinct(flatten(list_transform(toks, t ->
       |    list_transform(generate_series(1, length('_' || t || '_') - 1),
       |      i -> substring('_' || t || '_', i, 2))))) AS bg
       | FROM base),
       |sc AS (SELECT doc_id, ${scoreCols.mkString(",\n")} FROM bg)
       |SELECT doc_id, $bestLang AS predicted_lang, $bestScore AS lang_score
       |FROM sc""".stripMargin
  }

  /** q118 replayed from first principles: positional bigrams, add-α LM
    * counts, per-doc position-ordered logp fold (the engine's fixed FP
    * order), 4dp for the JVM-vs-libm ln ulp. Shared by q118 and q144.
    */
  private def bigramLmOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS pos, toks
       |  FROM tk WHERE len(toks) >= 2),
       |bg2 AS (SELECT doc_id, pos, toks[pos] AS w1, toks[pos + 1] AS w2 FROM bg),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg2 GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM
       |  (SELECT unnest(toks) AS w1 FROM tk) GROUP BY 1),
       |v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM
       |  (SELECT unnest(toks) AS w FROM tk)),
       |sc AS (SELECT b.doc_id, b.pos,
       |    ln((coalesce(c12.c12, 0)::DOUBLE + 0.4) / (coalesce(c1.c1, 0)::DOUBLE + 0.4 * v.v)) AS logp
       |  FROM bg2 b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
       |  LEFT JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |    list_reduce(list_prepend(0.0, list(logp ORDER BY pos)), (a, b) -> a + b) AS s
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, round(-s / n_bigrams::DOUBLE, 4) AS avg_neg_logp
       |FROM agg""".stripMargin

  val all: Seq[Query] = Seq(
    // J2 + A: explode + aggregate + top-k (wordcount)
    Query("q09_wordcount", (s, d) =>
      t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w"))
        .limit(100),
      s"""SELECT w, count(*) AS cnt
         |FROM (SELECT unnest($tokensSql) AS w FROM documents)
         |GROUP BY w ORDER BY cnt DESC, w LIMIT 100""".stripMargin),

    // Text analysis: per-document token statistics
    Query("q25_token_stats", (s, d) =>
      TextAnalysis.tokenStats(t(s, d, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |SELECT doc_id,
         | length(text) AS n_chars,
         | len(toks) AS n_tokens,
         | len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+', 0)) AS n_tokens_bpe,
         | round(CASE WHEN length(text) > 0
         |   THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')))::DOUBLE / length(text)
         |   ELSE 0.0 END, 4) AS punct_ratio,
         | round(CASE WHEN len(toks) > 0
         |   THEN len(list_filter(toks, tk2 -> list_contains(['the','a','an','and','or','of','to','in','is','it'], tk2)))::DOUBLE / len(toks)
         |   ELSE 0.0 END, 4) AS stopword_ratio,
         | CASE WHEN len(toks) > 0
         |   THEN round(list_sum(list_transform(toks, tk2 -> length(tk2)))::DOUBLE / len(toks), 4)
         |   END AS avg_token_len
         |FROM tk""".stripMargin),

    // Text analysis: composite quality score
    Query("q26_quality_score", (s, d) =>
      TextAnalysis.qualityScores(t(s, d, "documents"), "doc_id", "text"),
      qualityScoreOracleSql),

    // Text analysis: language id (heuristic; no SQL oracle)
    Query("q27_lang_id", (s, d) =>
      TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text"),
      langIdOracleSql),

    // Fingerprints via custom Catalyst expressions (no SQL oracle).
    // winnow is array<long> internally — serialized for the driver's
    // pandas sort (no top-level ArrayType contract).
    Query("q28_fingerprints", (s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")
        .withColumn("winnow", concat_ws(",", col("winnow"))),
      // Full independent replay of the four fingerprint kernels (FNV-1a,
      // poly-mod, SimHash bit-majority, winnowing leftmost-argmin with
      // consecutive-site dedup = distinct sites) in DuckDB SQL.
      s"""WITH $simhashCtes,
         |${winnowCtes(k = 5, window = 4)},
         |firstseen AS (SELECT doc_id, sh, min(spos) AS fp FROM dsel GROUP BY doc_id, sh),
         |winnow AS (SELECT doc_id, string_agg(sh::VARCHAR, ',' ORDER BY fp) AS wstr FROM firstseen GROUP BY doc_id)
         |SELECT d.doc_id,
         |  ${toI64Sql(fnvSql("d.text"))} AS fnv64,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(generate_series(1, octet_length(encode(d.text))),
         |      i -> ascii(substring(d.text, i, 1))::BIGINT)),
         |    (h, c) -> (h * 31 + c) % 1000000007) AS poly_hash,
         |  ${toI64Sql("s.sh")} AS simhash,
         |  coalesce(w.wstr, '') AS winnow
         |FROM documents d JOIN simsig s USING (doc_id) LEFT JOIN winnow w USING (doc_id)""".stripMargin),

    // Generator with ordinal (posexplode / UDTF surface)
    Query("q54_posexplode", (s, d) =>
      t(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "w")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("w")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents WHERE doc_id < 50),
         |e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos FROM tk)
         |SELECT doc_id, pos, toks[pos] AS w FROM e""".stripMargin),

    // Corpus-wide exact line dedup, keep-first (RefinedWeb/CCNet
    // repetition removal). Lines synthesized as 10-token chunks — the
    // corpus is one unbroken line per doc — identically on both engines.
    Query("q107_line_dedup", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"), transform(
          sequence(lit(0), expr("(size(__toks) - 1) div 10")),
          i => array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " "))
          .as("__lines"))
      graft.operators.Dedup.lineDedup(docs, "doc_id", col("__lines"))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |ln AS (SELECT doc_id, list_transform(
         |    generate_series(0, (len(toks) - 1) // 10),
         |    i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ')) AS lines
         |  FROM tk WHERE len(toks) > 0),
         |occ AS (SELECT doc_id, unnest(lines) AS line,
         |    unnest(generate_series(0, len(lines) - 1)) AS pos FROM ln),
         |win AS (SELECT doc_id, pos, line FROM (
         |    SELECT doc_id, pos, line,
         |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         |    FROM occ) WHERE rn = 1),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS text_dedup
         |  FROM win GROUP BY doc_id)
         |SELECT ln.doc_id AS id, len(ln.lines)::BIGINT AS n_lines,
         |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(reb.text_dedup, '') AS text_dedup
         |FROM ln LEFT JOIN reb ON reb.doc_id = ln.doc_id""".stripMargin),

    // n-gram novelty (memorization-risk scoring): fraction of each
    // doc's distinct token-8-grams appearing in no other doc
    Query("q138_ngram_novelty", (s, d) =>
      graft.operators.TextAnalysis.ngramNovelty(
        t(s, d, "documents"), "doc_id", "text", 8),
      // novelty replay on gram TEXT (engine groups by xxhash64 of the
      // same strings — equal absent a 64-bit collision, the q111 argument)
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS pos,
         |    toks FROM tk WHERE len(toks) >= 8),
         |g2 AS (SELECT DISTINCT doc_id,
         |    array_to_string(toks[pos + 1 : pos + 8], ' ') AS gram FROM g),
         |dfq AS (SELECT gram, count(*) AS df FROM g2 GROUP BY gram),
         |per AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
         |  FROM g2 JOIN dfq USING (gram) GROUP BY doc_id)
         |SELECT tk.doc_id AS id,
         |  coalesce(n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(n_shared, 0)::BIGINT AS n_shared,
         |  CASE WHEN coalesce(n_grams, 0) > 0
         |    THEN 1.0 - n_shared::DOUBLE / n_grams ELSE 1.0 END AS novelty
         |FROM tk LEFT JOIN per ON per.doc_id = tk.doc_id""".stripMargin),

    // Hashed-BoW linear-model scoring (fastText-style quality classifier
    // serving pass): deterministic synthetic weights, DECIMAL-exact
    // logits (raw double output), sigmoid rounded 4dp
    Query("q136_linear_model", (s, d) => {
      val buckets = 1024
      val weights = s.range(buckets).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 2001L - 1000L).cast("double") / 1000.0)
          .as("weight"))
      graft.operators.TextAnalysis.scoreLinearModel(
        t(s, d, "documents"), "doc_id", "text", weights, buckets)
        .select(col("doc_id"), col("n_tokens"), col("logit"),
          round(col("score"), 4).as("score_4dp"), col("label"))
    },
      // linear-model replay: same FNV bucket (2^64 ≡ 0 mod 1024, so the
      // unsigned HUGEINT mod equals Spark's signed pmod), same weight
      // formula, DECIMAL-exact sum → identical raw logit
      {
      val bucketSql = s"(${fnvSql("v")}) % 1024"
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS v FROM documents),
         |bk AS (SELECT doc_id, ($bucketSql)::BIGINT AS bucket FROM tk),
         |wt AS (SELECT doc_id, bucket,
         |    (((bucket * 2654435761) % 2001 - 1000)::DOUBLE / 1000.0)
         |      ::DECIMAL(12,6) AS w
         |  FROM bk),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(w) AS s FROM wt GROUP BY doc_id),
         |sp AS (SELECT d.doc_id,
         |    coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
         |    coalesce(a.s, 0::DECIMAL(12,6))::DOUBLE AS lg
         |  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id)
         |SELECT doc_id, n_tokens, lg AS logit,
         |  round(1.0 / (1.0 + exp(-lg)), 4) AS score_4dp,
         |  (1.0 / (1.0 + exp(-lg)) >= 0.5) AS label
         |FROM sp""".stripMargin
    }),

    // KMV corpus-overlap: per-language 3-token-SHINGLE-set jaccard/
    // union/intersect estimates from bottom-256 sketches. Shingles, not
    // tokens: this corpus has a 31-word global vocabulary (token sets
    // are identical across languages — a degenerate overlap), while
    // 3-shingle sets run 3k-9k per language, the real k ≪ |set| sketch
    // regime. Deterministic min-k algebra, replayed to the bit by the
    // oracle's HUGEINT FNV+splitmix chain.
    Query("q135_kmv_overlap", (s, d) => {
      val sh = t(s, d, "documents")
        .select(col("lang"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) >= 3)
        .select(col("lang"), explode(
          transform(sequence(lit(1), size(col("__toks")) - 2),
            i => array_join(slice(col("__toks"), i, lit(3)), " "))).as("sh"))
      graft.operators.Similarity.kmvCorpusOverlap(sh, "lang", col("sh"), 256)
        .select(col("corpus_a"), col("corpus_b"), col("n_shared"),
          round(col("jaccard_est"), 4).as("jaccard_4dp"),
          round(col("union_est"), 4).as("union_4dp"),
          round(col("intersect_est"), 4).as("intersect_4dp"))
    },
      // KMV replay: FNV each distinct (lang, token), bottom-256 per lang,
      // min-k union algebra; estimator doubles are single IEEE ops on
      // identical inputs, rounded 4dp for display
      {
      s"""WITH tk AS (SELECT lang AS corpus, $tokensSql AS toks FROM documents),
         |gp AS (SELECT corpus, unnest(generate_series(1, len(toks) - 2)) AS pos,
         |    toks FROM tk WHERE len(toks) >= 3),
         |tok AS (SELECT DISTINCT corpus,
         |    array_to_string(toks[pos : pos + 2], ' ') AS v FROM gp),
         |${mix64Chain("fz", "tok", fnvSql("v"), Seq("corpus"))},
         |hsh AS (SELECT DISTINCT corpus, hash AS h FROM fz),
         |rk AS (SELECT corpus, h,
         |    row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn FROM hsh),
         |sk AS (SELECT corpus, h FROM rk WHERE rn <= 256),
         |cs AS (SELECT DISTINCT corpus FROM sk),
         |p AS (SELECT a.corpus AS ca, b.corpus AS cb FROM cs a
         |  JOIN cs b ON a.corpus < b.corpus),
         |mem AS (SELECT ca, cb, h,
         |    max(sk.corpus = ca) AS in_a, max(sk.corpus = cb) AS in_b
         |  FROM p JOIN sk ON sk.corpus = p.ca OR sk.corpus = p.cb
         |  GROUP BY ca, cb, h),
         |u AS (SELECT *, row_number() OVER (PARTITION BY ca, cb ORDER BY h) AS rn
         |  FROM mem),
         |t AS (SELECT ca, cb,
         |    sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)::BIGINT AS n_shared,
         |    max(h) AS kth, count(*) AS m FROM u WHERE rn <= 256 GROUP BY ca, cb),
         |est AS (SELECT ca, cb, n_shared,
         |    n_shared::DOUBLE / m AS jac,
         |    CASE WHEN m < 256 THEN m::DOUBLE
         |      ELSE 255.0 / ((kth::DOUBLE + 9.223372036854775808e18)
         |        / 1.8446744073709552e19) END AS uni
         |  FROM t)
         |SELECT ca AS corpus_a, cb AS corpus_b, n_shared,
         |  round(jac, 4) AS jaccard_4dp,
         |  round(uni, 4) AS union_4dp,
         |  round(jac * uni, 4) AS intersect_4dp
         |FROM est""".stripMargin
    }),

    // BM25 keyword search: top-25 docs for a 3-term query — narrow tf
    // pass + one broadcast stats row + TakeOrdered top-k
    Query("q110_bm25_search", (s, d) =>
      graft.operators.TextAnalysis.bm25TopK(
        t(s, d, "documents"), "doc_id", "text",
        terms = Seq("spark", "vector", "merge"), k = 25),
      bm25OracleSql(Seq("spark", "vector", "merge"), 25, "doc_id")),

    // BM25 from the PERSISTED postings index (the repeated-query serving
    // shape): build = one postings explode bucketed by term + a one-row
    // stats table; query = bucket-pruned postings lookup, never a corpus
    // scan. Must equal q110 exactly (same stats, same shared score tree).
    Query("q112_bm25_indexed", (s, d) => {
      val base = s"${sys.props("java.io.tmpdir")}/graft_bm25_index_" +
        s.sparkContext.applicationId
      graft.operators.TextAnalysis.buildBm25Index(
        t(s, d, "documents"), "doc_id", "text", "graft_bm25", base)
      graft.operators.TextAnalysis.bm25FromIndex(
        s, "graft_bm25", terms = Seq("spark", "vector", "merge"), k = 25)
    },
      // identical semantics to q110 by construction: the persisted-postings
      // path scores the same population with the same stats through the
      // same shared score expression (TextAnalysis.scoredTopK)
      bm25OracleSql(Seq("spark", "vector", "merge"), 25,
      "doc_id AS id")),

    // Boilerplate stripping: lines (10-token chunks, the q107 synthesis)
    // present in MORE than 2 distinct docs are removed from every doc —
    // the frequency pass that keep-first line dedup doesn't express
    Query("q128_boilerplate_strip", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"), transform(
          sequence(lit(0), expr("(size(__toks) - 1) div 10")),
          i => array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " "))
          .as("__lines"))
      graft.operators.Dedup.stripBoilerplate(docs, "doc_id", col("__lines"),
        maxDocFreq = 2L)
    },
      // line doc-frequency > 2 ⇒ stripped everywhere (incl. 1st occurrence)
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |ln AS (SELECT doc_id, list_transform(
         |    generate_series(0, (len(toks) - 1) // 10),
         |    i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ')) AS lines
         |  FROM tk WHERE len(toks) > 0),
         |occ AS (SELECT doc_id, unnest(lines) AS line,
         |    unnest(generate_series(0, len(lines) - 1)) AS pos FROM ln),
         |hot AS (SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS nd FROM occ GROUP BY 1)
         |  WHERE nd > 2),
         |kept AS (SELECT occ.doc_id, occ.pos, occ.line FROM occ
         |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.line = occ.line)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS text_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT ln.doc_id AS id, len(ln.lines)::BIGINT AS n_lines,
         |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(reb.text_kept, '') AS text_kept
         |FROM ln LEFT JOIN reb ON reb.doc_id = ln.doc_id""".stripMargin),

    // TF-IDF top-5 keywords per doc (rounded-score rank order — see
    // tfidfTopTerms scaladoc for the mathematical-tie FP argument)
    Query("q125_tfidf_topterms", (s, d) =>
      graft.operators.TextAnalysis.tfidfTopTerms(
        t(s, d, "documents"), "doc_id", "text", k = 5),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |td AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM td GROUP BY 1, 2),
         |dft AS (SELECT term, count(*)::DOUBLE AS dfc FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM tk),
         |sc AS (SELECT doc_id, term, tf,
         |    round(tf::DOUBLE * ln(n.n / dfc), 4) AS tfidf
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |  FROM sc)
         |SELECT doc_id, rank, term, tf, tfidf FROM r WHERE rank <= 5""".stripMargin),

    // PMI collocations over adjacent token pairs, min pair count 5
    Query("q126_pmi_collocations", (s, d) =>
      graft.operators.TextAnalysis.pmiCollocations(
        t(s, d, "documents"), "doc_id", "text", minCount = 5L),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sp AS (SELECT toks, len(toks) AS n FROM tk WHERE len(toks) >= 2),
         |g AS (SELECT unnest(generate_series(1, n - 1)) AS pos, toks FROM sp),
         |bg AS (SELECT toks[pos] AS w1, toks[pos + 1] AS w2 FROM g),
         |uni AS (SELECT unnest(toks) AS w FROM tk),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |c1 AS (SELECT w AS w1, count(*) AS ca FROM uni GROUP BY 1),
         |c2 AS (SELECT w AS w2, count(*) AS cb FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT count(*)::DOUBLE FROM bg) AS t,
         |               (SELECT count(*)::DOUBLE FROM uni) AS u)
         |SELECT w1, w2, c12,
         |  round(ln((c12::DOUBLE * u * u) / (t * ca::DOUBLE * cb::DOUBLE)), 4) + 0.0 AS pmi
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot""".stripMargin),

    // RAG chunking: 64-token windows, stride 48 (16-token overlap);
    // zero-shuffle narrow splitter, trailing chunks truncate at doc end
    Query("q123_chunking", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
      graft.operators.TrainingData.chunkTokens(
        docs, "doc_id", col("__toks"), size = 64, stride = 48)
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sp AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
         |st AS (SELECT doc_id, n, toks,
         |    unnest(generate_series(0, n - 1, 48)) AS tok_start,
         |    unnest(generate_series(0, (n - 1) // 48)) AS chunk_id
         |  FROM sp)
         |SELECT doc_id AS id, chunk_id, tok_start,
         |  least(64, n - tok_start) AS n_chunk_tokens,
         |  array_to_string(toks[tok_start + 1 : tok_start + 64], ' ') AS chunk_text
         |FROM st""".stripMargin),

    // Incremental BM25 index: build on half the corpus, APPEND the other
    // half (bucketed postings append + a second summable stats row), then
    // probe — must equal the single-shot full-corpus BM25 exactly (the
    // summable (n, sum_dl) stats make avgdl append-invariant)
    Query("q121_bm25_incremental", (s, d) => {
      val base = s"${sys.props("java.io.tmpdir")}/graft_bm25_incr_" +
        s.sparkContext.applicationId
      val docs = t(s, d, "documents")
      graft.operators.TextAnalysis.buildBm25Index(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "graft_bm25i", base)
      graft.operators.TextAnalysis.appendToBm25Index(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "graft_bm25i", base)
      graft.operators.TextAnalysis.bm25FromIndex(
        s, "graft_bm25i", terms = Seq("spark", "vector", "merge"), k = 25)
    },
      // append history is invisible to the probe: same oracle as q110/q112
      bm25OracleSql(Seq("spark", "vector", "merge"), 25,
      "doc_id AS id")),

    // CCNet-style LM quality: add-0.4-smoothed bigram LM trained on the
    // corpus, every (≥2-token) doc scored by mean negative log-prob of
    // its bigrams; per-doc position-ordered fold keeps the FP sum exact
    Query("q118_lm_quality", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TextAnalysis.bigramLmScores(docs, docs, "doc_id", "text")
    },
      // bigram-LM replay: same counts, same smoothing arithmetic, same
      // position-ordered left fold (list_reduce over list(... ORDER BY pos)
      // == Spark's aggregate over the pos-sorted collected array)
      bigramLmOracleSql),

    // Lee-et-al repeated-span removal: every 8-token window occurring
    // elsewhere in the corpus with an earlier (doc, pos) is excised from
    // the later site; overlapping duplicated windows merge into one hole
    Query("q111_span_dedup", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
      graft.operators.Dedup.spanDedup(docs, "doc_id", col("__toks"), spanLen = 8)
    },
      // Span-dedup replay: positional 8-gram per doc, first-(doc,pos)
      // winner per gram content, later occurrences mark their covered token
      // positions, docs rebuilt from uncovered tokens. Grams compare by
      // CONTENT here vs xxhash64 on the engine side — identical output
      // absent a 64-bit collision (none at these gram counts).
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sp AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens FROM tk),
         |g AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS pos, toks
         |  FROM sp WHERE len(toks) >= 8),
         |g2 AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ' ') AS gram FROM g),
         |win AS (SELECT gram, doc_id AS wid, pos AS wpos FROM (
         |    SELECT gram, doc_id, pos,
         |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |    FROM g2) WHERE rn = 1),
         |dup AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN win USING (gram)
         |  WHERE g2.doc_id <> win.wid OR g2.pos <> win.wpos),
         |cov AS (SELECT DISTINCT doc_id, tpos FROM (
         |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tpos FROM dup)),
         |tp AS (SELECT doc_id, unnest(toks) AS tok,
         |    unnest(generate_series(0, len(toks) - 1)) AS tpos FROM sp),
         |kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tp.doc_id AND cov.tpos = tp.tpos)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(tok, ' ' ORDER BY tpos) AS text_dedup
         |  FROM kept GROUP BY doc_id)
         |SELECT sp.doc_id AS id, sp.n_tokens,
         |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
         |  (sp.n_tokens - coalesce(reb.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(reb.text_dedup, '') AS text_dedup
         |FROM sp LEFT JOIN reb ON reb.doc_id = sp.doc_id""".stripMargin),

    // BPE-style pre-token counts (digit/punct runs synthesized from doc_id
    // — the corpus itself is plain lowercase words)
    Query("q104_pretokenize", (s, d) =>
      graft.operators.TextAnalysis.preTokenStats(
        t(s, d, "documents").select(col("doc_id"),
          concat(substring(col("text"), 1, 60), lit(" v1.2, id="),
            col("doc_id"), lit("!!")).as("t")),
        "doc_id", "t"),
      {
      val pat = graft.operators.TextAnalysis.preTokenPattern
      s"""WITH src AS (SELECT doc_id,
         |  substring(text, 1, 60) || ' v1.2, id=' || doc_id::VARCHAR || '!!' AS t FROM documents),
         |pre AS (SELECT doc_id, regexp_extract_all(t, '$pat') AS p FROM src)
         |SELECT doc_id, len(p) AS n_pretokens,
         | len(list_distinct(p)) AS n_distinct_pretokens,
         | len(list_filter(p, x -> regexp_full_match(x, '[0-9]+'))) AS n_numeric_runs
         |FROM pre""".stripMargin
    }),

    // Concat-and-chunk sequence packing: 256-token chunks, 4 shards
    Query("q90_seq_packing", (s, d) =>
      graft.operators.TrainingData.packSequences(
        t(s, d, "documents"), "doc_id",
        size(graft.functions.TextFunctions.tokens(col("text"))),
        // sign-preserving % matches the oracle's doc_id % 4 (see q287)
        capacity = 256, shard = col("doc_id") % lit(4)),
      s"""WITH tk AS (SELECT doc_id, doc_id % 4 AS shard,
         |    len($tokensSql) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS end_off
         |  FROM tk WHERE n_tokens > 0),
         |e AS (SELECT doc_id, shard, end_off - n_tokens AS start_off, end_off,
         |    unnest(generate_series((end_off - n_tokens) // 256, (end_off - 1) // 256)) AS chunk_id
         |  FROM o)
         |SELECT shard, chunk_id, doc_id,
         |  greatest(start_off, chunk_id * 256) AS tok_start,
         |  least(end_off, (chunk_id + 1) * 256) AS tok_end,
         |  least(end_off, (chunk_id + 1) * 256)
         |    - greatest(start_off, chunk_id * 256) AS tokens_in_chunk
         |FROM e""".stripMargin),

    // Array-function sweep over tokenized documents
    Query("q61_array_funcs", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n"),
          array_contains(col("toks"), "the").as("has_the"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          concat_ws(",", slice(array_sort(col("toks")), 1, 3)).as("first3_sorted"),
          array_position(col("toks"), "data").cast("long").as("pos_data"),
          element_at(col("toks"), -1).as("last_tok")),
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         | len(toks) AS n,
         | list_contains(toks, 'the') AS has_the,
         | len(list_distinct(toks)) AS n_distinct,
         | array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
         | coalesce(list_position(toks, 'data'), 0) AS pos_data,
         | toks[-1] AS last_tok
         |FROM tk""".stripMargin),

    // Gopher-style n-gram repetition ratios (pretraining quality signal)
    Query("q77_repetition", (s, d) =>
      TextAnalysis.repetitionRatios(t(s, d, "documents"), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |SELECT doc_id,
         | CASE WHEN len(toks) >= 2 THEN 1.0 - len(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' '))))::DOUBLE
         |    / (len(toks) - 1) ELSE 0.0 END AS rep_word2,
         | CASE WHEN len(toks) >= 3 THEN 1.0 - len(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))))::DOUBLE
         |    / (len(toks) - 2) ELSE 0.0 END AS rep_word3,
         | CASE WHEN strlen(lower(text)) >= 5 THEN 1.0 - len(list_distinct(list_transform(
         |    generate_series(1, strlen(lower(text)) - 4), i -> substring(lower(text), i, 5))))::DOUBLE
         |    / (strlen(lower(text)) - 4) ELSE 0.0 END AS rep_char5
         |FROM tk""".stripMargin),

    // C4 line-level cleaning: drop lines with <5 words or a blocklisted
    // term ("slow"/"dup" exist in the corpus vocabulary, so the filter
    // bites), then drop docs left with <3 lines — pure per-row
    Query("q141_c4_line_filter", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
      graft.operators.QualityRules.c4LineFilter(docs, "doc_id",
        graft.operators.QualityRules.syntheticLines(col("__toks"), 10),
        blocklist = Seq("slow", "dup"), minWordsPerLine = 5, minLines = 3)
    },
      // C4 line filter replay: same line synthesis, same word-count and
      // substring-blocklist predicates, docs with >=3 surviving lines
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |ld AS (SELECT doc_id,
         |    CASE WHEN len(toks) > 0 THEN
         |      list_transform(generate_series(0, (len(toks) - 1) // 10),
         |        i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
         |    ELSE [] END AS lines FROM tk),
         |k AS (SELECT doc_id, list_filter(lines,
         |      l -> len(list_filter(string_split_regex(l, '\\s+'),
         |        t -> strlen(t) > 0)) >= 5
         |        AND NOT (contains(l, 'slow') OR contains(l, 'dup')))
         |    AS kept FROM ld)
         |SELECT doc_id, len(kept)::BIGINT AS n_lines_kept,
         |  array_to_string(kept, chr(10)) AS text_clean
         |FROM k WHERE len(kept) >= 3""".stripMargin),

    // Classifier calibration (reliability table): q136's linear-model
    // scores vs the lang='en' outcome, decile score bins — mean
    // predicted probability vs empirical positive rate per bin. The
    // binning input is the 4dp-rounded score q136 proved cross-engine
    // bit-stable, so floor(p*10) is an identical IEEE op both sides
    Query("q181_calibration", (s, d) => {
      val buckets = 1024
      val weights = s.range(buckets).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 2001L - 1000L).cast("double") / 1000.0)
          .as("weight"))
      val scored = graft.operators.TextAnalysis.scoreLinearModel(
        t(s, d, "documents"), "doc_id", "text", weights, buckets)
        .select(col("doc_id"), round(col("score"), 4).as("p"))
      val lab = t(s, d, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      scored.join(lab, Seq("doc_id"))
        .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          (decSum(col("p"), 6) / count(lit(1))).as("mean_pred"),
          (sum(col("y")).cast("double") / count(lit(1))).as("pos_rate"))
        .withColumn("gap", round(col("mean_pred") - col("pos_rate"), 4))
    },
      // Calibration replay: q136's exact score chain (FNV bucket, DECIMAL
      // logit, 4dp sigmoid), decile bins on the identical rounded double
      {
      val bucketSql = s"(${fnvSql("v")}) % 1024"
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS v FROM documents),
         |bk AS (SELECT doc_id, ($bucketSql)::BIGINT AS bucket FROM tk),
         |wt AS (SELECT doc_id, bucket,
         |    (((bucket * 2654435761) % 2001 - 1000)::DOUBLE / 1000.0)
         |      ::DECIMAL(12,6) AS w
         |  FROM bk),
         |agg AS (SELECT doc_id, sum(w) AS s FROM wt GROUP BY doc_id),
         |sc AS (SELECT doc_id,
         |    round(1.0 / (1.0 + exp(-(s::DOUBLE))), 4) AS p FROM agg),
         |j AS (SELECT sc.doc_id, sc.p,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM sc JOIN documents d USING (doc_id)),
         |b AS (SELECT least(floor(p * 10)::INT, 9) AS bin, p, y FROM j)
         |SELECT bin, count(*)::BIGINT AS n,
         |  CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    AS mean_pred,
         |  sum(y)::DOUBLE / count(*) AS pos_rate,
         |  round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    - sum(y)::DOUBLE / count(*), 4) AS gap
         |FROM b GROUP BY bin""".stripMargin
    }),

    // Heaps'-law vocabulary growth: ln V vs ln N OLS over the corpus in
    // doc-id order (first-occurrence attribution — no running-distinct
    // state); the q150 Zipf fit's companion diagnostic
    Query("q182_heaps_fit", (s, d) =>
      graft.operators.TextAnalysis.heapsFit(
        t(s, d, "documents"), "doc_id", "text"),
      // Heaps replay: identical first-occurrence attribution, exact
      // integer prefix sums, same id-ordered OLS folds, 4dp
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
         |pd AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY doc_id),
         |fo AS (SELECT min(doc_id) AS doc_id FROM tk GROUP BY tok),
         |nv AS (SELECT doc_id, count(*) AS nv FROM fo GROUP BY doc_id),
         |pts AS (SELECT p.doc_id AS r,
         |    ln((sum(p.nt) OVER w)::DOUBLE) AS x,
         |    ln((sum(coalesce(n.nv, 0)) OVER w)::DOUBLE) AS y
         |  FROM pd p LEFT JOIN nv n USING (doc_id)
         |  WINDOW w AS (ORDER BY p.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |s AS (SELECT count(*) AS n,
         |    list_reduce(list_prepend(0.0, list(x ORDER BY r)),
         |      (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(0.0, list(y ORDER BY r)),
         |      (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(0.0, list(x * y ORDER BY r)),
         |      (a, b) -> a + b) AS sxy,
         |    list_reduce(list_prepend(0.0, list(x * x ORDER BY r)),
         |      (a, b) -> a + b) AS sxx
         |  FROM pts)
         |SELECT n::BIGINT AS n_docs,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS beta,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
         |    4) AS ln_k
         |FROM s""".stripMargin),

    // Corpus duplicate-8-gram coverage per source: fraction of all gram
    // OCCURRENCES whose gram recurs corpus-wide (Lee et al.'s
    // "how much of the data is duplicated text" memorization metric —
    // q138 scores docs, this reports the corpus-level census). Explode
    // carries only (source, 8-byte hash); occurrence counts are
    // map-side partial; exact quotients
    Query("q184_dup_gram_coverage", (s, d) => {
      val n = 8
      val grams = t(s, d, "documents")
        .select(col("source"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col("source"), explode(
          transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => array_join(slice(col("__toks"), i, lit(n)), " ")))
          .as("gram"))
        .select(col("source"), xxhash64(col("gram")).as("gh"))
      val occ = grams.groupBy(col("gh")).agg(count(lit(1)).as("__occ"))
      grams.join(occ, "gh")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("gram_occurrences"),
          sum(when(col("__occ") >= 2, 1L).otherwise(0L))
            .as("dup_occurrences"))
        .withColumn("dup_fraction",
          col("dup_occurrences").cast("double") / col("gram_occurrences"))
    },
      // Dup-gram-coverage replay: q138's gram synthesis at occurrence
      // (not distinct) granularity, corpus-wide occurrence counts,
      // per-source exact quotients
      s"""WITH tk AS (SELECT source, $tokensSql AS toks FROM documents),
         |g AS (SELECT source,
         |    unnest(generate_series(0, len(toks) - 8)) AS pos, toks
         |  FROM tk WHERE len(toks) >= 8),
         |g2 AS (SELECT source,
         |    array_to_string(toks[pos + 1 : pos + 8], ' ') AS gram FROM g),
         |occ AS (SELECT gram, count(*) AS o FROM g2 GROUP BY gram)
         |SELECT source, count(*)::BIGINT AS gram_occurrences,
         |  CAST(sum(CASE WHEN o >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_occurrences,
         |  sum(CASE WHEN o >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
         |    AS dup_fraction
         |FROM g2 JOIN occ USING (gram)
         |GROUP BY source""".stripMargin),

    // BPE tokenizer training: 6 merge rounds over character symbols,
    // word-frequency weighted, (count DESC, lhs, rhs) tie-break — the
    // learned merge table is the artifact a tokenizer ships
    Query("q186_bpe_merges", (s, d) =>
      graft.operators.TextAnalysis.bpeMerges(
        t(s, d, "documents"), "text", numMerges = 6),
      // BPE replay: 6 unrolled merge rounds (see bpeOracleSql)
      bpeOracleSql(6)),

    // Source-pair token-distribution cosine: each source as an exact
    // integer term-frequency vector, pairwise cosine via a token-key
    // self-join of the AGGREGATED (source, token, count) frame — never
    // a doc-level cross join; exact BIGINT dots, 4dp cosine
    Query("q185_source_cosine", (s, d) => {
      val tf = t(s, d, "documents")
        .select(col("source"), explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val norms = tf.groupBy(col("source")).agg(sum(col("c") * col("c")).as("n2"))
      val pairs = tf.as("a")
        .join(broadcast(tf.as("b")),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
      pairs
        .join(broadcast(norms.select(col("source").as("s1"),
          col("n2").as("__n1"))), Seq("s1"))
        .join(broadcast(norms.select(col("source").as("s2"),
          col("n2").as("__n2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("dot"),
          round(col("dot").cast("double") /
            (sqrt(col("__n1").cast("double")) *
             sqrt(col("__n2").cast("double"))), 4).as("cosine"))
    },
      // Source-cosine replay: identical integer TF vectors, BIGINT dots,
      // same sqrt/division op order, 4dp
      s"""WITH tf AS (SELECT source, v AS tok, count(*) AS c
         |  FROM (SELECT source, unnest($tokensSql) AS v FROM documents)
         |  GROUP BY 1, 2),
         |nm AS (SELECT source, sum(c * c)::BIGINT AS n2 FROM tf
         |  GROUP BY source),
         |pr AS (SELECT a.source AS s1, b.source AS s2,
         |    sum(a.c * b.c)::BIGINT AS dot
         |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT s1, s2, dot,
         |  round(dot::DOUBLE / (sqrt(n1.n2::DOUBLE) * sqrt(n2.n2::DOUBLE)),
         |    4) AS cosine
         |FROM pr JOIN nm n1 ON pr.s1 = n1.source
         |JOIN nm n2 ON pr.s2 = n2.source""".stripMargin),

    // Corpus-scale BPE ENCODE: q186's 6 learned merges applied to every
    // document — per-doc token-id sequences (frozen sorted-vocab ids,
    // space-joined) + fertility stats; the curation→packSequences bridge
    Query("q255_bpe_encode_corpus", (s, d) =>
      graft.operators.TextAnalysis.bpeEncodeCorpus(
        t(s, d, "documents"), "doc_id", "text", numMerges = 6)
        .withColumnRenamed("id", "doc_id"),
      // Per-doc BPE encode replay (see bpeEncodeCorpusOracleSql)
      bpeEncodeCorpusOracleSql(6)),

    // Lexical-diversity audit per source: TTR, hapax share and Yule's K
    // (Yule 1944) over the token frequency spectrum — the length-robust
    // templated/boilerplate tell next to distinctN's fixed-n ratios;
    // spectrum moments are exact integers, three final double divides
    Query("q307_lexical_diversity", (s, d) =>
      graft.operators.TextAnalysis.lexicalDiversity(
        t(s, d, "documents"), "text", "source"),
      // Lexical-diversity replay: spectrum over token STRINGS (distinct
      // over 8-byte xxh64 token keys == distinct over strings absent a
      // collision — the q111 stance); all moments exact integers, the
      // same three double divides in the same op order
      s"""WITH tk AS (SELECT source, unnest($tokensSql) AS tok
         |  FROM documents),
         |tf AS (SELECT source, tok, count(*)::BIGINT AS c
         |  FROM tk GROUP BY source, tok),
         |a AS (SELECT source, SUM(c)::BIGINT AS n_tokens,
         |    count(*)::BIGINT AS n_types,
         |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
         |    SUM(c * c)::BIGINT AS s2
         |  FROM tf GROUP BY source)
         |SELECT source, n_tokens, n_types, n_hapax,
         |  round(n_types::DOUBLE / n_tokens::DOUBLE, 4) AS ttr,
         |  round(n_hapax::DOUBLE / n_types::DOUBLE, 4) AS hapax_ratio,
         |  round(10000.0 * (s2 - n_tokens)::DOUBLE
         |    / (n_tokens::DOUBLE * n_tokens::DOUBLE), 4) AS yule_k
         |FROM a""".stripMargin),

    // Cohen's kappa between two cheap quality raters (char-length vs
    // token-count gates) — the chance-corrected agreement audit run
    // before trusting one heuristic as a proxy for the other; exact
    // 2x2 counts, three fixed-order double expressions
    Query("q311_cohens_kappa", (s, d) =>
      graft.operators.Eval.cohensKappa(t(s, d, "documents"),
        col("n_chars") >= 400,
        // explicit null gate: size(tokens(null)) is the legacy -1
        // sentinel under ANSI-off, which would rate a null doc "false"
        // instead of excluding it (the oracle's WHERE text IS NOT NULL)
        when(col("text").isNotNull, size(tokens(col("text"))) >= 80)),
      // Kappa replay: identical rater gates and null exclusion, exact
      // 2x2 counts, po/pe/kappa from the UNROUNDED doubles
      s"""WITH r AS (SELECT (n_chars >= 400) AS a,
         |    (len($tokensSql) >= 80) AS b
         |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |c AS (SELECT count(*)::BIGINT AS n,
         |    SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n_both,
         |    SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT
         |      AS n_only_a,
         |    SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT
         |      AS n_only_b,
         |    SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
         |      AS n_neither
         |  FROM r),
         |p AS (SELECT *,
         |    (n_both + n_neither)::DOUBLE / n::DOUBLE AS po_raw,
         |    ((n_both + n_only_a)::DOUBLE * (n_both + n_only_b)::DOUBLE
         |      + (n_only_b + n_neither)::DOUBLE
         |        * (n_only_a + n_neither)::DOUBLE)
         |      / (n::DOUBLE * n::DOUBLE) AS pe_raw
         |  FROM c)
         |SELECT n, n_both, n_only_a, n_only_b, n_neither,
         |  round(po_raw, 4) AS po, round(pe_raw, 4) AS pe,
         |  CASE WHEN pe_raw < 1.0
         |    THEN round((po_raw - pe_raw) / (1.0 - pe_raw), 4) END AS kappa
         |FROM p""".stripMargin),

    // Per-doc cross-entropy under the corpus unigram LM — the cheapest
    // perplexity proxy (rare-token soup scores high, common-vocabulary
    // text low); 6dp-rounded ln p summed through DECIMAL, one divide
    Query("q312_unigram_ce", (s, d) =>
      graft.operators.TextAnalysis.unigramCrossEntropy(
        t(s, d, "documents"), "doc_id", "text"),
      // Unigram-CE replay: spectrum over token STRINGS (the q111
      // collision stance), 6dp ln p through DECIMAL, one final divide
      s"""WITH occ AS (SELECT doc_id, unnest($tokensSql) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*)::BIGINT AS c FROM occ GROUP BY tok),
         |t AS (SELECT SUM(c)::BIGINT AS tt FROM c),
         |x AS (SELECT occ.doc_id,
         |    CAST(round(-ln(c.c::DOUBLE / t.tt::DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS lnp
         |  FROM occ JOIN c USING (tok) CROSS JOIN t),
         |a AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |    CAST(CAST(SUM(lnp) AS DECIMAL(18,6)) AS DOUBLE) AS s
         |  FROM x GROUP BY doc_id)
         |SELECT doc_id AS id, n_tokens,
         |  round(s / n_tokens::DOUBLE, 4) AS cross_entropy
         |FROM a""".stripMargin),

    // Top-500 vocabulary coverage per doc — the tokenizer/corpus-fit
    // audit: occurrences inside the top-k vocab (count DESC, token ASC
    // — a total tie order, so the vocab set is deterministic)
    Query("q313_vocab_coverage", (s, d) =>
      graft.operators.TextAnalysis.vocabCoverage(
        t(s, d, "documents"), "doc_id", "text", k = 500),
      // Vocab-coverage replay: same total tie order (count DESC, token
      // ASC) fixes the same top-500 set; exact occurrence gating
      s"""WITH occ AS (SELECT doc_id, unnest($tokensSql) AS tok
         |  FROM documents),
         |cnt AS (SELECT tok, count(*)::BIGINT AS c FROM occ GROUP BY tok),
         |top AS (SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT 500),
         |a AS (SELECT occ.doc_id, count(*)::BIGINT AS n_tokens,
         |    SUM(CASE WHEN top.tok IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |      AS n_in_vocab
         |  FROM occ LEFT JOIN top ON occ.tok = top.tok
         |  GROUP BY occ.doc_id)
         |SELECT doc_id AS id, n_tokens, n_in_vocab,
         |  round(n_in_vocab::DOUBLE / n_tokens::DOUBLE, 4) AS coverage
         |FROM a""".stripMargin),

    // HTML content extraction (the layer after q370's fetch census):
    // title / link count / tag-stripped text length from synthesized
    // markup wrapping the corpus text — RE2-safe regexes the oracle
    // runs verbatim; zero-shuffle per-row program
    Query("q371_html_extract", (s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val html = concat(lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title></head><body><p>"), substring(col("text"), 1, 40),
        lit("</p>"),
        repeat(concat(lit("<a href=\"http://l/"), col("doc_id"),
          lit("\">l</a>")), (col("doc_id") % 3).cast("int")),
        lit("</body></html>"))
      graft.operators.TextAnalysis.htmlExtract(
        docs.select(col("doc_id"), html.as("__html")), "doc_id",
        col("__html"))
    },
      // HTML replay: build the same markup, run the IDENTICAL RE2
      // patterns (extract group 1, global tag strip, link-count matches)
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title></head><body><p>' || substr(text, 1, 40) ||
        |    '</p>' || repeat('<a href="http://l/' || doc_id ||
        |    '">l</a>', CAST(doc_id % 3 AS INT)) || '</body></html>'
        |      AS html
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CASE WHEN length(regexp_extract(html,
        |      '<title>([^<]*)</title>', 1)) > 0
        |    THEN regexp_extract(html, '<title>([^<]*)</title>', 1)
        |  END AS title,
        |  CAST(len(regexp_extract_all(html, '<a href=')) AS BIGINT)
        |    AS n_links,
        |  CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
        |    AS BIGINT) AS text_chars
        |FROM h""".stripMargin),

    // q111 with Lee et al.'s minimum-match-length knob: adjacent
    // duplicated 8-gram positions coalesce into regions and only
    // regions >= 30 tokens excise — isolated short repeats survive
    // (at sf0.01 island lengths span 11..93, so 8-gram and 30-token
    // thresholds genuinely disagree)
    Query("q375_span_dedup_minlen", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
      graft.operators.Dedup.spanDedup(docs, "doc_id", col("__toks"),
        spanLen = 8, minMatchLen = 30)
    },
      // q111's replay + the island merge: coalesce dup positions whose
      // covered intervals overlap/abut (pos diff <= 8), keep regions of
      // >= 30 tokens, excise those only
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sp AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens FROM tk),
         |g AS (SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS pos, toks
         |  FROM sp WHERE len(toks) >= 8),
         |g2 AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ' ') AS gram FROM g),
         |win AS (SELECT gram, doc_id AS wid, pos AS wpos FROM (
         |    SELECT gram, doc_id, pos,
         |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |    FROM g2) WHERE rn = 1),
         |dup AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN win USING (gram)
         |  WHERE g2.doc_id <> win.wid OR g2.pos <> win.wpos),
         |runs AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
         |         THEN 0 ELSE 1 END AS brk
         |  FROM dup),
         |isl AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM runs),
         |iv AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
         |  FROM isl GROUP BY 1, 2),
         |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS tpos
         |  FROM iv WHERE e - s + 1 >= 30),
         |tp AS (SELECT doc_id, unnest(toks) AS tok,
         |    unnest(generate_series(0, len(toks) - 1)) AS tpos FROM sp),
         |kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tp.doc_id AND cov.tpos = tp.tpos)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(tok, ' ' ORDER BY tpos) AS text_dedup
         |  FROM kept GROUP BY doc_id)
         |SELECT sp.doc_id AS id, sp.n_tokens,
         |  coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
         |  (sp.n_tokens - coalesce(reb.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(reb.text_dedup, '') AS text_dedup
         |FROM sp LEFT JOIN reb ON reb.doc_id = sp.doc_id""".stripMargin),

    // Block-level main-content extraction (Kohlschütter-style text/
    // link density): nav, sidebar and footer blocks drop on length or
    // integer-cross-multiply link density; body prose survives —
    // exact char accounting and the kept text joined back
    Query("q388_main_content", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id") >= 0 && col("text").isNotNull)
      graft.operators.TextAnalysis.mainContent(
        docs.select(col("doc_id"), mainContentHtml(col("doc_id"),
          col("text")).as("__html")),
        "doc_id", col("__html"))
    },
      // main-content replay: same page construction, same split /
      // tag-strip / collapse / anchor-join regex chain, same integer
      // density gate — aligned parallel unnests recover block order for
      // the main_text join
      """WITH h AS (SELECT doc_id,
        |    '<html><body>' || chr(10) ||
        |    '<div class="nav"><a href="/a">Home</a> ' ||
        |    '<a href="/b">About</a> <a href="/c">Contact</a></div>' ||
        |    chr(10) || '<h1>Doc ' || doc_id || ' heading</h1>' ||
        |    chr(10) || '<p>' || substr(text, 1, 120) || '</p>' ||
        |    chr(10) || '<p>' || substr(text, 121, 120) || '</p>' ||
        |    chr(10) || '<div>Sidebar listing ' || (doc_id % 7) ||
        |    ': <a href="/x">ref' || (doc_id % 9) ||
        |    '</a> <a href="/y">more' || (doc_id % 5) || '</a>' ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN ' ' || substr(text, 241, 80) ELSE '' END) ||
        |    '</div>' || chr(10) ||
        |    '<div class="footer"><a href="/p">Privacy</a> | ' ||
        |    '<a href="/t">Terms</a></div>' || chr(10) ||
        |    '</body></html>' AS html
        |  FROM documents WHERE doc_id >= 0 AND text IS NOT NULL),
        |l AS (SELECT doc_id,
        |    list_transform(string_split_regex(html,
        |      '</p>|</div>|</li>|</h1>|</h2>|</h3>'), b ->
        |      regexp_replace(regexp_replace(regexp_replace(b,
        |        '<[^>]*>', '', 'g'), '\s+', ' ', 'g'), '^ | $', '', 'g'))
        |      AS txts,
    |    -- DuckDB regexp_extract_all is NULL (not []) on zero matches
        |    list_transform(string_split_regex(html,
        |      '</p>|</div>|</li>|</h1>|</h2>|</h3>'), b ->
        |      COALESCE(length(regexp_replace(regexp_replace(
        |        array_to_string(regexp_extract_all(b,
        |          '<a[^>]*>([^<]*)</a>', 1), ' '),
        |        '\s+', ' ', 'g'), '^ | $', '', 'g')), 0)) AS acs
        |  FROM h),
        |k AS (SELECT doc_id, len(txts) AS nb,
        |    list_filter(txts, (t, i) ->
        |      length(t) >= 20 AND acs[i] * 100 <= length(t) * 30) AS kept,
        |    list_sum(list_transform(txts, t -> length(t))) AS tot
        |  FROM l)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_blocks,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  COALESCE(CAST(list_sum(list_transform(kept, t -> length(t)))
        |    AS BIGINT), 0)::BIGINT AS main_chars,
        |  CAST(tot - COALESCE(list_sum(list_transform(kept,
        |    t -> length(t))), 0) AS BIGINT) AS boiler_chars,
        |  array_to_string(kept, chr(10)) AS main_text
        |FROM k""".stripMargin),

    // Mixture rebalance plan: per-source sampling rates that move the
    // observed token mixture onto a target weighting (1 + N%3 per
    // srcN) — the most under-represented source keeps rate 1, all
    // others subsample; every value a fixed chain of exact-int ops
    Query("q360_mixture_rebalance", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TrainingData.mixtureRebalance(docs, "source",
        when(col("text").isNotNull,
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long")).otherwise(lit(0L)),
        expr("1 + (cast(substring(source, 4) as int) % 3)"))
    },
      // Rebalance replay: exact integer token/weight sums, then the
      // identical share → rel → max → rate → floor double chain
      s"""WITH per AS (SELECT source,
         |    sum(CASE WHEN text IS NULL THEN 0
         |      ELSE len($tokensSql) END)::BIGINT AS ot,
         |    max(1 + (CAST(substr(source, 4) AS INT) % 3))::BIGINT AS w
         |  FROM documents WHERE source IS NOT NULL GROUP BY source),
         |tot AS (SELECT sum(ot) AS tt, sum(w) AS wt FROM per),
         |r AS (SELECT source, ot,
         |    ot::DOUBLE / tt::DOUBLE AS oshare,
         |    w::DOUBLE / wt::DOUBLE AS tshare,
         |    (w::DOUBLE / wt::DOUBLE) / (ot::DOUBLE / tt::DOUBLE) AS rel
         |  FROM per, tot),
         |mx AS (SELECT max(rel) AS mrel FROM r)
         |SELECT source, ot AS observed_tokens, oshare AS observed_share,
         |  tshare AS target_share, rel / mrel AS rate,
         |  CAST(floor(rel / mrel * ot::DOUBLE) AS BIGINT)
         |    AS planned_tokens
         |FROM r, mx""".stripMargin),

    // Good-Turing missing mass + Chao1 richness floor per language:
    // what share of the next crawl is NEW vocabulary, and how big is
    // the true vocabulary at least? Exact frequency-of-frequencies.
    Query("q347_unseen_vocab", (s, d) =>
      graft.operators.TextAnalysis.unseenVocab(
        t(s, d, "documents").filter(col("text").isNotNull),
        "lang", "text"),
      // Good-Turing/Chao1 replay: same token counts, exact N₁/N₂, three
      // divides
      s"""WITH tok AS (SELECT lang AS g, unnest($tokensSql) AS w
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |tf AS (SELECT g, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
         |a AS (SELECT g, sum(c)::BIGINT AS n_tokens,
         |    count(*)::BIGINT AS vocab_observed,
         |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
         |  FROM tf GROUP BY 1)
         |SELECT g AS lang, n_tokens, vocab_observed,
         |  n1 AS n_singletons, n2 AS n_doubletons,
         |  round(n1::DOUBLE / n_tokens::DOUBLE, 4) AS p_unseen,
         |  CASE WHEN n2 > 0 THEN round(vocab_observed::DOUBLE
         |    + n1::DOUBLE * n1::DOUBLE / (2.0::DOUBLE * n2::DOUBLE), 4)
         |    END AS chao1_richness
         |FROM a""".stripMargin),

    // Token-budget corpus selection: quality-first greedy prefix under
    // a 10k-token budget (quality = distinct-token ratio, the q283
    // diversity score). Engine runs the two-phase bucketed cumsum (the
    // only globally-ordered frame is the ≤1001-row bucket frame);
    // oracle replays the equivalent single global window — quantization
    // is order-compatible, so the cut is identical by construction.
    Query("q294_token_budget", (s, d) => {
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      graft.operators.TrainingData.tokenBudgetSelect(
        t(s, d, "documents"), "doc_id",
        tokenCount = size(toks),
        quality = round(size(array_distinct(toks)).cast("double") /
          size(toks).cast("double"), 4),
        budget = 10000L)
    },
      // Budget-selection replay: ONE global cumsum window over
      // (quality DESC, id) — provably equal to the engine's two-phase
      // bucketed form because floor(q·1000) is monotone in q
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 4)
         |      AS q
         |  FROM tk WHERE len(toks) > 0),
         |c AS (SELECT doc_id, n_tokens, q,
         |    CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id) AS BIGINT)
         |      AS cum_tokens
         |  FROM d)
         |SELECT doc_id AS id, n_tokens, q, cum_tokens,
         |  cum_tokens <= 10000 AS selected
         |FROM c""".stripMargin),

    // Boundary-preserving bin-packing audit: next-fit doc packing into
    // 256-token bins per shard (q90's layout question answered the
    // other way) — the padding-waste number that decides concat vs
    // boundary packing
    Query("q287_pack_bins", (s, d) =>
      graft.operators.TrainingData.packBinsSummary(
        t(s, d, "documents"), "doc_id",
        size(graft.functions.TextFunctions.tokens(col("text"))),
        // sign-preserving % matches the oracle's doc_id % 4 (pmod would
        // diverge on a future fixture with negative ids — the q270 bug)
        capacity = 256, shard = col("doc_id") % lit(4)),
      // Pack-bins replay: identical id-ordered next-fit fold (struct
      // state via the prepended-init list_reduce idiom), exact integers,
      // one final divide
      s"""WITH tk AS (SELECT doc_id AS id, doc_id % 4 AS shard,
         |    len($tokensSql)::BIGINT AS n FROM documents),
         |b AS (SELECT id, shard, n FROM tk WHERE n > 0),
         |g AS (SELECT shard, count(*)::BIGINT AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS total_tokens,
         |    CAST(sum(least(n, 256)) AS BIGINT) AS packed_tokens,
         |    sum(CASE WHEN n > 256 THEN 1 ELSE 0 END)::BIGINT AS n_oversize,
         |    (list_reduce(list_prepend(
         |      struct_pack(bins := 0::BIGINT, fill := 256::BIGINT),
         |      list_transform(list(least(n, 256) ORDER BY id),
         |        x -> struct_pack(bins := 0::BIGINT, fill := x::BIGINT))),
         |      (a, x) -> CASE WHEN a.fill + x.fill <= 256
         |        THEN struct_pack(bins := a.bins, fill := a.fill + x.fill)
         |        ELSE struct_pack(bins := a.bins + 1, fill := x.fill)
         |        END)).bins AS n_bins
         |  FROM b GROUP BY shard)
         |SELECT shard, n_docs, total_tokens, packed_tokens, n_oversize,
         |  n_bins,
         |  round((n_bins * 256 - packed_tokens)::DOUBLE
         |    / (n_bins * 256)::DOUBLE, 4) AS padding_frac
         |FROM g""".stripMargin),

    // Distinct-n diversity league table: per source, distinct/total
    // word n-grams for n=1..3 — the synthetic-corpus repetitiveness
    // audit (self-BLEU complement)
    Query("q283_distinct_n", (s, d) =>
      graft.operators.TextAnalysis.distinctN(
        t(s, d, "documents"), "text", "source")
        .withColumnRenamed("grp", "source"),
      // Distinct-n replay: gram STRINGS substitute for the engine's
      // 8-byte gram hashes (distinct counts agree absent a 64-bit
      // collision — the q111 stance), per-n slice windows
      {
      val blocks = Seq(1, 2, 3).map { n =>
        s"""SELECT source, $n AS n,
           |  array_to_string(toks[i:i + ${n - 1}], ' ') AS gram
           |FROM (SELECT source,
           |    unnest(generate_series(1, len(toks) - ${n - 1})) AS i,
           |    toks FROM tk WHERE len(toks) >= $n)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tk AS (SELECT source, $tokensSql AS toks FROM documents),
         |g AS ($blocks)
         |SELECT source, n, count(*)::BIGINT AS total_grams,
         |  count(DISTINCT gram)::BIGINT AS distinct_grams,
         |  round(count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE, 4)
         |    AS distinct_ratio
         |FROM g GROUP BY source, n""".stripMargin
    }),

    // Tokenizer round-trip contract: q255's corpus encode decoded back
    // through the frozen id table and compared against each document's
    // own token stream — the zero-mismatch invariant pinned before
    // training on encoded data
    Query("q278_bpe_roundtrip", (s, d) =>
      graft.operators.TextAnalysis.bpeRoundTrip(
        t(s, d, "documents"), "doc_id", "text", numMerges = 6)
        .withColumnRenamed("id", "doc_id"),
      // Round-trip replay: the q255 encode chain, ids decoded back via
      // the SAME vocab table, subword concat compared to the word concat
      // — an INDEPENDENT decode, so an id-table defect on either side
      // breaks the hash
      s"""${bpeCtes(6)},
         |vocab AS (SELECT tok AS token,
         |    (row_number() OVER (ORDER BY tok))::BIGINT - 1 AS tid
         |  FROM (SELECT DISTINCT unnest(s) AS tok FROM s6)),
         |dbase AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |dw AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS wpos,
         |    toks FROM dbase WHERE len(toks) > 0),
         |dw2 AS (SELECT doc_id, wpos, toks[wpos] AS w FROM dw),
         |ds AS (SELECT d.doc_id, d.wpos, s.s AS syms
         |  FROM dw2 d JOIN s6 s ON d.w = s.w),
         |dt AS (SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS j,
         |    syms FROM ds),
         |dtok AS (SELECT t.doc_id, t.wpos, t.j, t.sym, v.tid
         |  FROM (SELECT doc_id, wpos, j, syms[j] AS sym FROM dt) t
         |  JOIN vocab v ON t.sym = v.token),
         |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |    string_agg(sym, '' ORDER BY wpos, j) AS decoded
         |  FROM dtok GROUP BY doc_id),
         |ref AS (SELECT doc_id,
         |    coalesce(array_to_string(toks, ''), '') AS ref FROM dbase)
         |SELECT r.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
         |  length(r.ref)::BIGINT AS n_chars,
         |  coalesce(p.decoded, '') = r.ref AS roundtrip_ok
         |FROM ref r LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Token-mass Gini per source: is a source's token budget breadth
    // or three giant docs — exact-integer Gini, one final divide
    Query("q275_token_gini", (s, d) =>
      graft.operators.TextAnalysis.tokenGini(
        t(s, d, "documents"), "doc_id", "text", "source")
        .withColumnRenamed("grp", "source"),
      // Gini replay: same (x, id)-ranked integer sums, one divide
      s"""WITH b AS (SELECT source, doc_id,
         |    CASE WHEN text IS NOT NULL THEN len($tokensSql) ELSE 0 END
         |      ::BIGINT AS x
         |  FROM documents),
         |r AS (SELECT source, x,
         |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
         |      ::BIGINT AS rn
         |  FROM b)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(x) AS BIGINT) AS total_tokens,
         |  CASE WHEN sum(x) > 0 THEN
         |    round((2 * sum(rn * x) - (count(*) + 1) * sum(x))::DOUBLE
         |      / (count(*) * sum(x))::DOUBLE, 4) END AS gini
         |FROM r GROUP BY source""".stripMargin),

    // Keyness: Dunning G² top-25 terms of the English subcorpus vs the
    // rest — the count-weighted "what is this source about" screen
    Query("q274_keyness", (s, d) =>
      graft.operators.TextAnalysis.keyness(
        t(s, d, "documents").filter(col("lang").isNotNull),
        "text", col("lang") === "en"),
      // Keyness replay: identical expression shapes per term (per-row
      // double sequence, no fold), unrounded ordering, term tie-break
      s"""WITH tk AS (SELECT lang = 'en' AS f, $tokensSql AS toks
         |  FROM documents WHERE lang IS NOT NULL),
         |t AS (SELECT f, unnest(toks) AS w FROM tk),
         |c AS (SELECT w, sum(CASE WHEN f THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN NOT f THEN 1 ELSE 0 END)::BIGINT AS c2
         |  FROM t GROUP BY w),
         |n AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM c),
         |g AS (SELECT w, c1, c2,
         |    2.0 * ((CASE WHEN c1 > 0
         |        THEN c1 * ln(c1 / (n1::DOUBLE * (c1 + c2) / (n1 + n2)))
         |        ELSE 0.0 END) +
         |      (CASE WHEN c2 > 0
         |        THEN c2 * ln(c2 / (n2::DOUBLE * (c1 + c2) / (n1 + n2)))
         |        ELSE 0.0 END)) AS g2,
         |    CASE WHEN c1 * n2 > c2 * n1 THEN 'focus' ELSE 'rest' END
         |      AS direction
         |  FROM c, n)
         |SELECT w AS term, c1, c2, round(g2, 4) AS g2, direction
         |FROM g ORDER BY g2 DESC, w LIMIT 25""".stripMargin),

    // Content-defined chunking census: FNV-gated token boundaries
    // (mean chunk ~16 tokens), chunk-hash dup mass per doc — the
    // edit-robust chunk-granular dedup signal between exact and span
    Query("q266_cdc_chunks", (s, d) =>
      graft.operators.TextAnalysis.cdcChunks(
        t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      // CDC replay: same FNV boundary gate, exclusive-prefix cumsum chunk
      // ids, chunk-string FNV occurrence counts, per-doc rollup
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |tok AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    unnest(generate_series(1, len(toks))) AS pos, toks
         |  FROM tk WHERE len(toks) > 0),
         |tw AS (SELECT doc_id, n_tokens, pos, toks[pos] AS w FROM tok),
         |fl AS (SELECT doc_id, n_tokens, pos, w,
         |    CASE WHEN (((${fnvSql("w")}) % 16) + 16) % 16 = 0
         |      THEN 1 ELSE 0 END AS b
         |  FROM tw),
         |ck AS (SELECT doc_id, n_tokens, pos, w,
         |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk
         |  FROM fl),
         |cs AS (SELECT doc_id, chunk, count(*)::BIGINT AS c_tokens,
         |    string_agg(w, ' ' ORDER BY pos) AS ctext
         |  FROM ck GROUP BY doc_id, chunk),
         |ch AS (SELECT doc_id, chunk, c_tokens,
         |    ${toI64Sql(fnvSql("ctext"))} AS h
         |  FROM cs),
         |occ AS (SELECT h, count(*)::BIGINT AS n_occ FROM ch GROUP BY h),
         |per AS (SELECT ch.doc_id, count(*)::BIGINT AS n_chunks,
         |    sum(CASE WHEN occ.n_occ > 1 THEN ch.c_tokens ELSE 0 END)
         |      ::BIGINT AS dup_chunk_tokens
         |  FROM ch JOIN occ USING (h) GROUP BY ch.doc_id)
         |SELECT t.doc_id, coalesce(len(t.toks), 0)::BIGINT AS n_tokens,
         |  coalesce(p.n_chunks, 0)::BIGINT AS n_chunks,
         |  coalesce(p.dup_chunk_tokens, 0)::BIGINT AS dup_chunk_tokens,
         |  CASE WHEN coalesce(len(t.toks), 0) > 0
         |    THEN round(coalesce(p.dup_chunk_tokens, 0)::DOUBLE
         |      / len(t.toks)::DOUBLE, 4) END AS dup_ratio
         |FROM tk t LEFT JOIN per p USING (doc_id)""".stripMargin),

    // Language-ID confusion matrix: heuristic predictions vs the
    // labeled lang column — per-cell counts, within-label shares,
    // diagonal flag; the calibration audit before trusting the
    // heuristic on unlabeled crawls
    Query("q264_langid_confusion", (s, d) =>
      graft.operators.TextAnalysis.langIdConfusion(
        t(s, d, "documents"), "doc_id", "text", "lang"),
      // Confusion replay: the shared langId chain as a nested-WITH
      // subquery, joined to the label, same share window
      s"""WITH cells AS (
         |  SELECT d.lang AS label, p.predicted_lang, count(*)::BIGINT AS n
         |  FROM ($langIdOracleSql) p JOIN documents d USING (doc_id)
         |  GROUP BY d.lang, p.predicted_lang)
         |SELECT label, predicted_lang, n,
         |  round(n::DOUBLE / sum(n) OVER (PARTITION BY label), 4) AS share,
         |  label = predicted_lang AS hit
         |FROM cells""".stripMargin),

    // Tokenizer fertility per language: q255's encode rolled up per
    // lang — the under-served-language audit run before mixture
    // weights are finalized
    Query("q262_bpe_fertility_by_lang", (s, d) =>
      graft.operators.TextAnalysis.bpeFertilityByGroup(
        t(s, d, "documents"), "doc_id", "text", "lang", numMerges = 6)
        .withColumnRenamed("grp", "lang"),
      // Fertility-rollup replay: the q255 encode chain, then per-lang
      // exact sums + one divide
      s"""${bpeEncodeFertilityOracleSql(6)}"""),

    // BPE tokenizer APPLICATION census: train q186's 6 merges, then
    // report the resulting subword vocabulary with exact corpus stats
    // (total occurrences weighted by word frequency + distinct words
    // containing the token) — the coverage/fertility audit a tokenizer
    // build signs off on
    Query("q187_bpe_encode", (s, d) =>
      graft.operators.TextAnalysis.bpeEncodeCensus(
        t(s, d, "documents"), "text", numMerges = 6),
      // BPE-encode replay: the q186 unrolled rounds + final vocabulary
      // census over the post-merge symbol frame
      bpeEncodeOracleSql(6)),

    // Exact ROC AUC via the Mann-Whitney rank-sum with average-rank tie
    // handling, ranking on q136's DECIMAL-exact logit (AUC is invariant
    // to the monotone sigmoid, so ranking the logit sidesteps the libm
    // exp ulp entirely — tie structure and order are bit-identical
    // cross-engine). The rank window runs on the AGGREGATED
    // distinct-logit frame, never the raw corpus; every rank term is a
    // multiple of 0.5 so the Σ pos·avgRank fold is exact in double and
    // order-independent.
    Query("q188_auc", (s, d) => {
      val buckets = 1024
      val weights = s.range(buckets).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 2001L - 1000L).cast("double") / 1000.0)
          .as("weight"))
      val scored = graft.operators.TextAnalysis.scoreLinearModel(
        t(s, d, "documents"), "doc_id", "text", weights, buckets)
        .select(col("doc_id"), col("logit"))
      val lab = t(s, d, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val g = scored.join(lab, Seq("doc_id"))
        .groupBy(col("logit"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val w = Window.orderBy(col("logit"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = g
        .withColumn("__cb", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("__ar", col("__cb").cast("double") +
          (col("n") + 1).cast("double") / 2.0)
      ranked.agg(
          sum(col("pos")).as("__p"),
          sum(col("n") - col("pos")).as("__n"),
          sum(col("pos").cast("double") * col("__ar")).as("__sr"))
        .select(col("__p").as("n_pos"), col("__n").as("n_neg"),
          round((col("__sr") - col("__p").cast("double") *
              (col("__p") + 1).cast("double") / 2.0) /
            (col("__p").cast("double") * col("__n").cast("double")), 4)
            .as("auc"))
    },
      // AUC replay: identical DECIMAL logits (q181's weight synthesis),
      // distinct-logit aggregation, cumulative-count average ranks, the
      // same exact-in-double rank-sum formula, 4dp
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS v FROM documents),
         |bk AS (SELECT doc_id, ((${fnvSql("v")}) % 1024)::BIGINT AS bucket
         |  FROM tk),
         |wt AS (SELECT doc_id, bucket,
         |    (((bucket * 2654435761) % 2001 - 1000)::DOUBLE / 1000.0)
         |      ::DECIMAL(12,6) AS w
         |  FROM bk),
         |agg AS (SELECT doc_id, sum(w) AS s FROM wt GROUP BY doc_id),
         |j AS (SELECT a.doc_id, a.s::DOUBLE AS logit,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM agg a JOIN documents d USING (doc_id)),
         |g AS (SELECT logit, count(*) AS n, sum(y) AS pos FROM j
         |  GROUP BY logit),
         |r AS (SELECT logit, n, pos,
         |    coalesce(sum(n) OVER (ORDER BY logit
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM g)
         |SELECT sum(pos)::BIGINT AS n_pos,
         |  sum(n - pos)::BIGINT AS n_neg,
         |  round((sum(pos::DOUBLE * (cb::DOUBLE + (n + 1)::DOUBLE / 2.0))
         |      - sum(pos)::DOUBLE * (sum(pos) + 1)::DOUBLE / 2.0)
         |    / (sum(pos)::DOUBLE * sum(n - pos)::DOUBLE), 4) AS auc
         |FROM r""".stripMargin),

    // Precision-recall threshold sweep over q188's DECIMAL-exact logits
    // — the PR curve + F1 operating points the AUC integrates
    Query("q194_pr_curve", (s, d) => {
      val buckets = 1024
      val weights = s.range(buckets).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 2001L - 1000L).cast("double") / 1000.0)
          .as("weight"))
      val scored = graft.operators.TextAnalysis.scoreLinearModel(
        t(s, d, "documents"), "doc_id", "text", weights, buckets)
        .select(col("doc_id"), col("logit"))
      val lab = t(s, d, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      graft.operators.Eval.prCurve(scored.join(lab, Seq("doc_id")),
        "logit", "y")
    },
      // PR-sweep replay: q188's logit CTEs, per-distinct-threshold counts,
      // descending cumulative tp/pp, single-divide 4dp quotients
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS v FROM documents),
         |bk AS (SELECT doc_id, ((${fnvSql("v")}) % 1024)::BIGINT AS bucket
         |  FROM tk),
         |wt AS (SELECT doc_id, bucket,
         |    (((bucket * 2654435761) % 2001 - 1000)::DOUBLE / 1000.0)
         |      ::DECIMAL(12,6) AS w
         |  FROM bk),
         |agg AS (SELECT doc_id, sum(w) AS s FROM wt GROUP BY doc_id),
         |j AS (SELECT a.doc_id, a.s::DOUBLE AS logit,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM agg a JOIN documents d USING (doc_id)),
         |g AS (SELECT logit AS threshold, count(*) AS n, sum(y) AS pos
         |  FROM j GROUP BY 1),
         |tt AS (SELECT sum(pos)::BIGINT AS p FROM g),
         |c AS (SELECT threshold,
         |    (sum(pos) OVER (ORDER BY threshold DESC
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS tp,
         |    (sum(n) OVER (ORDER BY threshold DESC
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS pp
         |  FROM g)
         |SELECT threshold, tp, (pp - tp) AS fp, (p - tp) AS fn,
         |  round(tp::DOUBLE / pp, 4) AS prec,
         |  round(tp::DOUBLE / p, 4) AS recall,
         |  round(2.0 * tp::DOUBLE / (pp + p), 4) AS f1
         |FROM c CROSS JOIN tt""".stripMargin),

    // ExactSubstr duplicate-span removal census (Lee et al. 2022):
    // every recurring 8-token span removed except its first occurrence,
    // per-doc surviving-token accounting
    Query("q203_exact_substr", (s, d) =>
      graft.operators.TextAnalysis.exactSubstrCensus(
        t(s, d, "documents"), "doc_id", "text"),
      // ExactSubstr replay: same span strings, (doc_id, pos) first-
      // occurrence rule, ×8 coverage explode, distinct covered positions
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |oc AS (SELECT doc_id, pos,
         |    array_to_string(toks[pos:pos + 7], ' ') AS g
         |  FROM (SELECT doc_id, toks,
         |      unnest(generate_series(1, len(toks) - 7)) AS pos
         |    FROM tk WHERE len(toks) >= 8)),
         |rk AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY g) AS c
         |  FROM oc),
         |cov AS (SELECT DISTINCT doc_id, pos + d AS tp
         |  FROM rk CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d)
         |  WHERE c > 1 AND rn > 1),
         |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov
         |  GROUP BY 1)
         |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
         |  coalesce(cnt.n_removed, 0)::BIGINT AS n_removed,
         |  (len(t.toks) - coalesce(cnt.n_removed, 0))::BIGINT AS n_kept,
         |  CASE WHEN len(t.toks) > 0 THEN round(
         |      coalesce(cnt.n_removed, 0)::DOUBLE / len(t.toks)::DOUBLE, 4)
         |    ELSE 0.0 END AS removed_frac
         |FROM tk t LEFT JOIN cnt ON cnt.doc_id = t.doc_id""".stripMargin),

    // Tokenizer OOV audit: top-1000 corpus vocabulary, per-source
    // out-of-vocabulary occurrence/type counts and rate
    Query("q204_oov_audit", (s, d) =>
      graft.operators.TextAnalysis.oovAudit(t(s, d, "documents"),
        "source", "text", vocabSize = 1000),
      // OOV replay: (count DESC, token) top-1000 vocabulary, per-source
      // occurrence/type splits, single-divide 4dp rate
      s"""WITH tk AS (SELECT source AS g, unnest($tokensSql) AS tok
         |  FROM documents),
         |vc AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tk
         |    GROUP BY tok) QUALIFY row_number() OVER (
         |    ORDER BY c DESC, tok) <= 1000),
         |gc AS (SELECT g, tok, count(*) AS c FROM tk GROUP BY g, tok),
         |j AS (SELECT gc.g, gc.tok, gc.c,
         |    CASE WHEN vc.tok IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM gc LEFT JOIN vc ON vc.tok = gc.tok)
         |SELECT g AS source, sum(c)::BIGINT AS n_tokens,
         |  count(*)::BIGINT AS n_types,
         |  sum(CASE WHEN oov = 1 THEN c ELSE 0 END)::BIGINT AS n_oov_tokens,
         |  sum(oov)::BIGINT AS n_oov_types,
         |  round(sum(CASE WHEN oov = 1 THEN c ELSE 0 END)::DOUBLE
         |    / sum(c)::DOUBLE, 4) AS oov_rate
         |FROM j GROUP BY g""".stripMargin),

    // Weighted lower median: per source, the n_chars value at half the
    // token-count mass — all-BIGINT cross-multiplied pick (q161
    // weight-generalized)
    Query("q206_weighted_median", (s, d) =>
      graft.operators.Outliers.weightedMedian(t(s, d, "documents"),
        "source", "n_chars",
        size(graft.functions.TextFunctions.tokens(col("text")))),
      // Weighted-median replay: per-(group,value) weight sums, 2·cumw ≥ W
      // smallest-value pick, all BIGINT
      s"""WITH b AS (SELECT source AS g, n_chars AS v,
         |    len($tokensSql)::BIGINT AS w FROM documents
         |  WHERE n_chars IS NOT NULL),
         |c AS (SELECT g, v, sum(w)::BIGINT AS w FROM b WHERE w > 0
         |  GROUP BY 1, 2),
         |m AS (SELECT g, v,
         |    sum(w) OVER (PARTITION BY g ORDER BY v
         |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cw,
         |    sum(w) OVER (PARTITION BY g)::BIGINT AS tw FROM c)
         |SELECT g AS source, max(tw)::BIGINT AS total_weight,
         |  min(v) AS weighted_median
         |FROM m WHERE cw * 2 >= tw GROUP BY g""".stripMargin),

    // Pairwise vocabulary Jaccard between sources: distinct-token sets
    // intersected on the aggregated frame (the q185 shape, set-valued)
    Query("q212_vocab_jaccard", (s, d) =>
      graft.operators.TextAnalysis.vocabJaccard(t(s, d, "documents"),
        "source", "text"),
      // Vocab-Jaccard replay: distinct (source, token) frame, token
      // equi-join with g1 < g2, exact set sizes
      s"""WITH st AS (SELECT DISTINCT g, tok FROM (
         |    SELECT source AS g, unnest($tokensSql) AS tok FROM documents)),
         |sz AS (SELECT g, count(*)::BIGINT AS nv FROM st GROUP BY g),
         |iv AS (SELECT a.g AS g1, b.g AS g2, count(*)::BIGINT AS n_common
         |  FROM st a JOIN st b ON a.tok = b.tok AND a.g < b.g
         |  GROUP BY 1, 2)
         |SELECT g1, g2, s1.nv AS n_vocab_1, s2.nv AS n_vocab_2, n_common,
         |  round(n_common::DOUBLE / (s1.nv + s2.nv - n_common)::DOUBLE, 4)
         |    AS jaccard
         |FROM iv JOIN sz s1 ON s1.g = iv.g1
         |JOIN sz s2 ON s2.g = iv.g2""".stripMargin),

    // Per-source Spearman rank correlation between doc length and token
    // count: average-rank ties on distinct-value frames, all-integer
    // doubled-rank sums (the q188 recipe, two-column)
    // y gates on text IS NOT NULL before size(): legacy sizeOfNull
    // makes size(tokens(NULL)) = -1, which would sail through the
    // y.isNotNull filter as a phantom rank while the DuckDB len(NULL)
    // row drops — the documented size(NULL) pitfall (NOTES r5)
    Query("q217_spearman", (s, d) =>
      graft.operators.Profile.spearman(t(s, d, "documents"), "source",
        col("n_chars"),
        when(col("text").isNotNull,
          size(graft.functions.TextFunctions.tokens(col("text"))))),
      // Spearman replay: identical distinct-value doubled ranks, HUGEINT
      // integer sums (exact — all magnitudes < 2^53 at gate SF), same
      // final double op sequence
      s"""WITH b0 AS (SELECT source AS g, n_chars::BIGINT AS x,
         |    len($tokensSql)::BIGINT AS y FROM documents),
         |base AS (SELECT g, x, y FROM b0
         |  WHERE x IS NOT NULL AND y IS NOT NULL),
         |rx AS (SELECT g, x, c, 2 * (cum - c) + c + 1 AS tx FROM (
         |  SELECT g, x, count(*)::BIGINT AS c,
         |    sum(count(*)) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum
         |  FROM base GROUP BY g, x)),
         |ry AS (SELECT g, y, c, 2 * (cum - c) + c + 1 AS ty FROM (
         |  SELECT g, y, count(*)::BIGINT AS c,
         |    sum(count(*)) OVER (PARTITION BY g ORDER BY y)::BIGINT AS cum
         |  FROM base GROUP BY g, y)),
         |pairs AS (SELECT g, x, y, count(*)::BIGINT AS c FROM base
         |  GROUP BY g, x, y),
         |pa AS (SELECT p.g, sum(p.c)::BIGINT AS n,
         |    sum(p.c::HUGEINT * rx.tx * ry.ty) AS a
         |  FROM pairs p JOIN rx ON rx.g = p.g AND rx.x = p.x
         |  JOIN ry ON ry.g = p.g AND ry.y = p.y GROUP BY p.g),
         |sx AS (SELECT g, sum(c::HUGEINT * tx) AS bx,
         |    sum(c::HUGEINT * tx * tx) AS qx FROM rx GROUP BY g),
         |sy AS (SELECT g, sum(c::HUGEINT * ty) AS by,
         |    sum(c::HUGEINT * ty * ty) AS qy FROM ry GROUP BY g)
         |SELECT pa.g AS source, pa.n,
         |  round((pa.n::HUGEINT * pa.a - sx.bx * sy.by)::DOUBLE
         |    / sqrt((pa.n::HUGEINT * sx.qx - sx.bx * sx.bx)::DOUBLE
         |         * (pa.n::HUGEINT * sy.qy - sy.by * sy.by)::DOUBLE), 4)
         |    AS spearman_rho
         |FROM pa JOIN sx ON sx.g = pa.g JOIN sy ON sy.g = pa.g
         |WHERE pa.n >= 2
         |  AND (pa.n::HUGEINT * sx.qx - sx.bx * sx.bx)::DOUBLE > 0.0
         |  AND (pa.n::HUGEINT * sy.qy - sy.by * sy.by)::DOUBLE > 0.0"""
        .stripMargin),

    // Pairwise Jensen-Shannon divergence between source token
    // distributions: shared-token ordered fold + closed-form one-sided
    // mass, shared ln2 constant
    Query("q220_js_divergence", (s, d) =>
      graft.operators.TextAnalysis.jsDivergence(t(s, d, "documents"),
        "source", "text"),
      // JS replay: same shared-token term op order (token-sorted fold),
      // closed-form one-sided mass, identical ln2 double literal
      s"""WITH tk AS (SELECT source AS g, unnest($tokensSql) AS tok
         |  FROM documents),
         |cnt AS (SELECT g, tok, count(*)::BIGINT AS c FROM tk
         |  GROUP BY g, tok),
         |tt AS (SELECT g, sum(c)::BIGINT AS n FROM cnt GROUP BY g),
         |cn AS (SELECT cnt.g, cnt.tok, cnt.c, tt.n FROM cnt
         |  JOIN tt USING (g)),
         |tm AS (SELECT a.g AS g1, b.g AS g2, a.tok,
         |    a.c AS c1, a.n AS n1, b.c AS c2, b.n AS n2,
         |    0.5::DOUBLE * (a.c::DOUBLE / a.n::DOUBLE)
         |      * ln((a.c::DOUBLE / a.n::DOUBLE)
         |            / ((a.c::DOUBLE / a.n::DOUBLE
         |                + b.c::DOUBLE / b.n::DOUBLE) / 2.0::DOUBLE))
         |    + 0.5::DOUBLE * (b.c::DOUBLE / b.n::DOUBLE)
         |      * ln((b.c::DOUBLE / b.n::DOUBLE)
         |            / ((a.c::DOUBLE / a.n::DOUBLE
         |                + b.c::DOUBLE / b.n::DOUBLE) / 2.0::DOUBLE)) AS t
         |  FROM cn a JOIN cn b ON a.tok = b.tok AND a.g < b.g),
         |ag AS (SELECT g1, g2,
         |    sum(c1)::BIGINT AS s1, sum(c2)::BIGINT AS s2,
         |    count(*)::BIGINT AS nsh,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY tok)),
         |      (x, y) -> x + y) AS shared
         |  FROM tm GROUP BY g1, g2),
         |ap AS (SELECT a.g AS g1, a.n AS n1, b.g AS g2, b.n AS n2
         |  FROM tt a CROSS JOIN tt b WHERE a.g < b.g)
         |SELECT ap.g1, ap.g2,
         |  coalesce(ag.nsh, 0)::BIGINT AS n_shared_tokens,
         |  round(coalesce(ag.shared, 0.0)
         |    + 0.5::DOUBLE * 0.6931471805599453::DOUBLE
         |      * (1.0::DOUBLE
         |         - coalesce(ag.s1, 0)::DOUBLE / ap.n1::DOUBLE)
         |    + 0.5::DOUBLE * 0.6931471805599453::DOUBLE
         |      * (1.0::DOUBLE
         |         - coalesce(ag.s2, 0)::DOUBLE / ap.n2::DOUBLE), 4)
         |    AS js_divergence
         |FROM ap LEFT JOIN ag ON ag.g1 = ap.g1 AND ag.g2 = ap.g2"""
        .stripMargin),

    // In-row phrase search: occurrences of "order fast" as consecutive
    // tokens, no explode/self-join — narrow scan + top-k
    Query("q222_phrase_search", (s, d) =>
      graft.operators.TextAnalysis.phraseSearch(t(s, d, "documents"),
        "doc_id", "text", Seq("order", "fast")),
      // Phrase-search replay: same 1-based in-list adjacency predicate
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |    len(list_filter(generate_series(1, len(toks) - 1),
         |      i -> toks[i] = 'order' AND toks[i + 1] = 'fast'))::BIGINT
         |      AS n_occurrences
         |  FROM tk WHERE len(toks) >= 2)
         |SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
         |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin),

    // Flesch reading ease: integer regex counts, one shared-literal
    // double formula
    Query("q226_readability", (s, d) =>
      graft.operators.TextAnalysis.readability(t(s, d, "documents"),
        "doc_id", "text"),
      // Flesch replay: identical integer regex-run counts, shared
      // formula literals
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks, text
         |  FROM documents),
         |c AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
         |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
         |      AS n_sentences,
         |    list_reduce(list_prepend(0::BIGINT, list_transform(toks,
         |      t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))
         |        ::BIGINT)), (a, b) -> a + b) AS n_syllables
         |  FROM tk)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  round(206.835::DOUBLE
         |    - 1.015::DOUBLE * (n_words::DOUBLE / n_sentences::DOUBLE)
         |    - 84.6::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE), 4)
         |    AS flesch
         |FROM c WHERE n_words > 0""".stripMargin),

    // KWIC concordance for 'fast': ±3-token windows, in-row positions
    Query("q236_kwic", (s, d) =>
      graft.operators.TextAnalysis.kwic(t(s, d, "documents"),
        "doc_id", "text", "fast"),
      // KWIC replay: same in-list positions and inclusive window slice
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |h AS (SELECT doc_id, toks,
         |    unnest(list_filter(generate_series(1,
         |      greatest(len(toks), 1)), i -> toks[i] = 'fast')) AS pos
         |  FROM tk WHERE len(toks) >= 1)
         |SELECT doc_id, pos,
         |  array_to_string(
         |    toks[greatest(1, pos - 3):least(pos + 3, len(toks))], ' ')
         |    AS context
         |FROM h ORDER BY doc_id, pos LIMIT 50""".stripMargin),

    // Good-Turing frequency-of-frequencies + unseen mass
    Query("q240_good_turing", (s, d) =>
      graft.operators.TextAnalysis.goodTuring(t(s, d, "documents"),
        "text"),
      // Good-Turing replay: two exact aggregations + single divides
      s"""WITH tc AS (SELECT tok, count(*)::BIGINT AS c FROM
         |  (SELECT unnest($tokensSql) AS tok FROM documents)
         |  GROUP BY tok),
         |fof AS (SELECT c, count(*)::BIGINT AS n_c FROM tc GROUP BY c),
         |tot AS (SELECT sum(c)::BIGINT AS n FROM tc),
         |n1 AS (SELECT n_c AS v FROM fof WHERE c = 1)
         |SELECT f.c, f.n_c,
         |  round((f.c + 1)::DOUBLE * nx.n_c::DOUBLE / f.n_c::DOUBLE, 4)
         |    AS c_star,
         |  tot.n AS total_tokens,
         |  round(coalesce((SELECT v FROM n1), 0)::DOUBLE / tot.n::DOUBLE,
         |    4) AS unseen_mass
         |FROM fof f LEFT JOIN fof nx ON nx.c = f.c + 1 CROSS JOIN tot
         |WHERE f.c IN (SELECT c FROM fof ORDER BY c LIMIT 5)"""
        .stripMargin),

    // Skip-gram (±2) PMI collocations, canonicalized pairs, min count 5
    Query("q242_skipgram_pmi", (s, d) =>
      graft.operators.TextAnalysis.skipgramPmi(t(s, d, "documents"),
        "text"),
      // Skip-gram PMI replay: same in-list pair construction (position ×
      // offset flatten, least/greatest canonicalization), exact counts
      s"""WITH tk AS (SELECT $tokensSql AS toks FROM documents),
         |pr AS (SELECT
         |    least(toks[i], toks[i + d]) AS w1,
         |    greatest(toks[i], toks[i + d]) AS w2
         |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1))
         |      AS i FROM tk WHERE len(toks) >= 2),
         |    (SELECT unnest(generate_series(1, 2)) AS d)
         |  WHERE i + d <= len(toks) AND toks[i] <> toks[i + d]),
         |pc AS (SELECT w1, w2, count(*)::BIGINT AS c FROM pr
         |  GROUP BY w1, w2 HAVING count(*) >= 5),
         |mg AS (SELECT w, count(*)::BIGINT AS cw FROM (
         |    SELECT w1 AS w FROM pr UNION ALL SELECT w2 FROM pr)
         |  GROUP BY w),
         |tt AS (SELECT count(*)::BIGINT AS t FROM pr)
         |SELECT pc.w1, pc.w2, pc.c AS pair_count,
         |  round(ln((pc.c * tt.t)::DOUBLE
         |    / (m1.cw * m2.cw)::DOUBLE), 4) + 0.0 AS pmi
         |FROM pc JOIN mg m1 ON m1.w = pc.w1
         |JOIN mg m2 ON m2.w = pc.w2 CROSS JOIN tt
         |WHERE m1.cw >= 5 AND m2.cw >= 5""".stripMargin),

    // Cohen's kappa between two deterministic doc gates: length ≥ 400
    // chars vs token count ≥ 80 — the q311 operator over non-null docs,
    // in the 2×2-cell naming (n11 = both raters true)
    Query("q246_cohens_kappa", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
      graft.operators.Eval.cohensKappa(docs,
        col("n_chars") >= 400, size(tokens(col("text"))) >= 80)
        .select(col("n"), col("n_both").as("n11"), col("n_only_a").as("n10"),
          col("n_only_b").as("n01"), col("n_neither").as("n00"),
          col("po").as("observed_agreement"),
          col("pe").as("expected_agreement"), col("kappa"))
    },
      // Kappa replay: same 2×2 integer cells and fixed double sequence
      // (pe as one quotient of products, the Eval.cohensKappa form)
      s"""WITH b AS (SELECT n_chars >= 400 AS a,
         |    len($tokensSql) >= 80 AS b FROM documents
         |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |c AS (SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n11,
         |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n10,
         |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n01,
         |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
         |      AS n00
         |  FROM b),
         |p AS (SELECT n, n11, n10, n01, n00,
         |    (n11 + n00)::DOUBLE / n::DOUBLE AS po,
         |    ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
         |      + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
         |      / (n::DOUBLE * n::DOUBLE) AS pe
         |  FROM c)
         |SELECT n, n11, n10, n01, n00,
         |  round(po, 4) AS observed_agreement,
         |  round(pe, 4) AS expected_agreement,
         |  CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0::DOUBLE - pe), 4)
         |    ELSE NULL END AS kappa
         |FROM p""".stripMargin),

    // Vocabulary novelty by crawl batch (doc_id div 50 as the proxy)
    Query("q250_vocab_novelty", (s, d) =>
      graft.operators.TextAnalysis.vocabNovelty(t(s, d, "documents"),
        "text", expr("doc_id div 50L")),
      // Novelty replay: same distinct (batch, token) frame and min-batch
      // first-seen ownership
      s"""WITH bt AS (SELECT DISTINCT doc_id // 50 AS b, tok FROM
         |  (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)),
         |fs AS (SELECT tok, min(b) AS fb FROM bt GROUP BY tok)
         |SELECT bt.b AS batch, count(*)::BIGINT AS n_distinct_tokens,
         |  sum(CASE WHEN fs.fb = bt.b THEN 1 ELSE 0 END)::BIGINT
         |    AS n_new_tokens,
         |  round(sum(CASE WHEN fs.fb = bt.b THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 4) AS novelty_rate
         |FROM bt JOIN fs ON fs.tok = bt.tok GROUP BY bt.b""".stripMargin),

    // Per-SOURCE boilerplate stripping: lines repeated within a source
    // (site templates) removed — the per-domain variant of q128
    Query("q162_boilerplate_by_source", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"), col("source"),
          graft.operators.QualityRules.syntheticLines(col("__toks"), 10)
            .as("__lines"))
      graft.operators.Dedup.stripBoilerplateBySource(docs, "doc_id",
        "source", col("__lines"), maxDocFreq = 1L)
    },
      // Per-source boilerplate replay: hot set keyed (source, line), same
      // 10-token line synthesis and rebuild as q128
      s"""WITH tk AS (SELECT doc_id, source, $tokensSql AS toks FROM documents
         |  WHERE len($tokensSql) > 0),
         |ld AS (SELECT doc_id, source,
         |    list_transform(generate_series(0, (len(toks) - 1) // 10),
         |      i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
         |    AS lines FROM tk),
         |occ AS (SELECT doc_id, source,
         |    unnest(generate_series(1, len(lines))) AS pos, lines FROM ld),
         |occ2 AS (SELECT doc_id, source, pos - 1 AS pos, lines[pos] AS line
         |  FROM occ),
         |hot AS (SELECT source, line FROM (
         |  SELECT source, line, count(DISTINCT doc_id) AS nd
         |  FROM occ2 GROUP BY 1, 2) WHERE nd > 1),
         |kept AS (SELECT o.doc_id, o.pos, o.line FROM occ2 o
         |  LEFT JOIN hot h ON h.source = o.source AND h.line = o.line
         |  WHERE h.line IS NULL),
         |rb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS text_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT ld.doc_id AS id, ld.source, len(ld.lines)::BIGINT AS n_lines,
         |  coalesce(rb.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(rb.text_kept, '') AS text_kept
         |FROM ld LEFT JOIN rb ON rb.doc_id = ld.doc_id""".stripMargin),

    // Trigram-index substring search: postings intersection (all pattern
    // trigrams) + exact contains rerank — no corpus scan for candidates
    Query("q159_trigram_search", (s, d) =>
      graft.operators.TextAnalysis.trigramSearch(
        t(s, d, "documents"), "doc_id", "text", "merge slow"),
      // Trigram-search oracle: the ground truth IS the naive scan — the
      // index must lose nothing (total recall) and the rerank nothing extra
      """SELECT doc_id FROM documents
        |WHERE contains(lower(text), 'merge slow')""".stripMargin),

    // Zipf's-law fit over the corpus frequency spectrum (top-1000 terms,
    // TakeOrderedAndProject; rank-ordered regression folds)
    Query("q150_zipf_fit", (s, d) =>
      graft.operators.TextAnalysis.zipfFit(t(s, d, "documents"), "text"),
      // Zipf replay: identical (f DESC, term) rank order, rank-ordered ln
      // folds, same closed-form least-squares expression tree, 4dp
      s"""WITH tk AS (SELECT unnest($tokensSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS f FROM tk GROUP BY term),
         |top AS (SELECT term, f FROM c ORDER BY f DESC, term LIMIT 1000),
         |l AS (SELECT row_number() OVER (ORDER BY f DESC, term) AS r,
         |    f FROM top),
         |l2 AS (SELECT r, ln(r::DOUBLE) AS x, ln(f::DOUBLE) AS y FROM l),
         |s AS (SELECT count(*)::BIGINT AS n_terms,
         |    list_reduce(list_prepend(0.0, list(x ORDER BY r)),
         |      (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(0.0, list(y ORDER BY r)),
         |      (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(0.0, list(x * y ORDER BY r)),
         |      (a, b) -> a + b) AS sxy,
         |    list_reduce(list_prepend(0.0, list(x * x ORDER BY r)),
         |      (a, b) -> a + b) AS sxx
         |  FROM l2)
         |SELECT n_terms,
         |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 4)
         |    AS slope,
         |  round((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)
         |    * sx) / n_terms, 4) AS intercept
         |FROM s""".stripMargin),

    // CCNet perplexity bucketing: bigram-LM score (q118) + exact-tercile
    // head/middle/tail cut points from the aggregated score distribution
    Query("q144_ccnet_buckets", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TextAnalysis.ccnetBuckets(docs, docs, "doc_id", "text")
    },
      // CCNet bucketing: the q118 replay wrapped in exact-tercile cut
      // points computed on the (score, count) distribution — the same
      // boundary-compare semantics as the engine (boundary-equal scores
      // land in the earlier bucket)
      s"""WITH sc AS ($bigramLmOracleSql),
         |dist AS (SELECT avg_neg_logp AS s, count(*) AS c FROM sc GROUP BY 1),
         |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM dist),
         |tot AS (SELECT count(*)::BIGINT AS n FROM sc),
         |b AS (SELECT min(CASE WHEN cum * 3 >= n THEN s END) AS t1,
         |    min(CASE WHEN cum * 3 >= 2 * n THEN s END) AS t2
         |  FROM cum CROSS JOIN tot)
         |SELECT sc.doc_id, sc.n_bigrams, sc.avg_neg_logp,
         |  CASE WHEN avg_neg_logp <= t1 THEN 'head'
         |       WHEN avg_neg_logp <= t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc CROSS JOIN b""".stripMargin))
}
