package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

import Shared._

/** Quality rules ([[graft.operators.QualityRules]]): Gopher/C4 filters, DSIR,
  * encoding and trojan-source audits, watermark screens.
  */
object QualityQueries {

  val all: Seq[Query] = Seq(
    // Gopher repetition rules (Rae et al. 2021 A1.1): within-doc
    // duplicate-line fractions (per-row array ops, no shuffle) + top
    // 2/3-gram and duplicated-5-gram char coverage (one tagged explode,
    // map-side count partial agg). All ratios exact integer quotients.
    Query("q139_gopher_repetition", (s, d) =>
      graft.operators.QualityRules.gopherRepetition(
        t(s, d, "documents"), "doc_id", "text"),
      // Gopher repetition replay: same 10-token line synthesis as q107,
      // same (n, gram) tagging; top gram by (cnt DESC, gram ASC); all
      // ratios integer quotients → bit-exact, no rounding
      s"""WITH tk AS (SELECT doc_id, length(text) AS tlen, $tokensSql AS toks
         |  FROM documents),
         |ld AS (SELECT doc_id, tlen, toks,
         |    CASE WHEN len(toks) > 0 THEN
         |      list_transform(generate_series(0, (len(toks) - 1) // 10),
         |        i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
         |    ELSE [] END AS lines FROM tk),
         |base AS (SELECT doc_id, tlen, toks, len(lines) AS n_lines,
         |    CASE WHEN len(lines) > 0 THEN
         |      1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
         |    ELSE 0.0 END AS dup_line_frac,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(lines, l -> length(l)::BIGINT)), (a, b) -> a + b)
         |      AS lsum,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(list_distinct(lines), l -> length(l)::BIGINT)),
         |      (a, b) -> a + b) AS dsum
         |  FROM ld),
         |g AS (SELECT doc_id, n, toks,
         |    unnest(generate_series(1, len(toks) - n + 1)) AS i
         |  FROM tk CROSS JOIN (VALUES (2), (3), (5)) AS nn(n)
         |  WHERE len(toks) >= n),
         |cnts AS (SELECT doc_id, n,
         |    array_to_string(toks[i : i + n - 1], ' ') AS gram, count(*) AS cnt
         |  FROM g GROUP BY 1, 2, 3),
         |top AS (SELECT doc_id, n, cnt * length(gram) AS top_chars,
         |    row_number() OVER (PARTITION BY doc_id, n
         |      ORDER BY cnt DESC, gram ASC) AS rn FROM cnts),
         |d5 AS (SELECT doc_id,
         |    sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS d5c
         |  FROM cnts WHERE n = 5 GROUP BY doc_id)
         |SELECT b.doc_id, b.n_lines::INT AS n_lines, b.dup_line_frac,
         |  CASE WHEN b.lsum > 0 THEN (b.lsum - b.dsum)::DOUBLE / b.lsum
         |    ELSE 0.0 END AS dup_line_char_frac,
         |  CASE WHEN b.tlen > 0
         |    THEN coalesce(t2.top_chars, 0)::DOUBLE / b.tlen
         |    ELSE 0.0 END AS top2_char_frac,
         |  CASE WHEN b.tlen > 0
         |    THEN coalesce(t3.top_chars, 0)::DOUBLE / b.tlen
         |    ELSE 0.0 END AS top3_char_frac,
         |  CASE WHEN b.tlen > 0
         |    THEN coalesce(d5.d5c, 0)::DOUBLE / b.tlen
         |    ELSE 0.0 END AS dup5_char_frac
         |FROM base b
         |LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.n = 2 AND t2.rn = 1
         |LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.n = 3 AND t3.rn = 1
         |LEFT JOIN d5 ON d5.doc_id = b.doc_id""".stripMargin),

    // Gopher document-quality rules: word/mean-length bounds, symbol
    // ratio, bullet/ellipsis line fractions, alpha-word fraction,
    // stopword floor, conjunctive keep — pure per-row, zero shuffles
    Query("q140_gopher_quality", (s, d) =>
      graft.operators.QualityRules.gopherQuality(
        t(s, d, "documents"), "doc_id", "text"),
      // Gopher quality replay: every metric an integer quotient; the
      // '...'-count divides exactly by 3 so the double division is exact
      gopherQualityOracleSql),

    // Character + token Shannon entropy per doc (gibberish / templated-
    // text signal); ordered fold + 4dp (ln ulp — the q118 finding)
    Query("q142_entropy", (s, d) =>
      graft.operators.QualityRules.entropyScores(
        t(s, d, "documents"), "doc_id", "text"),
      // Entropy replay: identical per-unit ln terms folded in unit-sorted
      // order (list(... ORDER BY u) mirrors the engine's array_sort fold);
      // 4dp absorbs the JVM-vs-libm ln ulp
      s"""WITH tk AS (SELECT doc_id, lower(text) AS lo, $tokensSql AS toks
         |  FROM documents),
         |ch AS (SELECT doc_id, unnest(regexp_extract_all(lo, '.')) AS u
         |  FROM tk),
         |cc AS (SELECT doc_id, u, count(*) AS cnt FROM ch GROUP BY 1, 2),
         |ce AS (SELECT doc_id, sum(cnt)::BIGINT AS n,
         |    list_reduce(list_prepend(0.0,
         |      list(cnt::DOUBLE * ln(cnt) ORDER BY u)), (a, b) -> a + b) AS s
         |  FROM cc GROUP BY doc_id),
         |tb AS (SELECT doc_id, unnest(toks) AS u FROM tk),
         |tc AS (SELECT doc_id, u, count(*) AS cnt FROM tb GROUP BY 1, 2),
         |te AS (SELECT doc_id, sum(cnt)::BIGINT AS n,
         |    list_reduce(list_prepend(0.0,
         |      list(cnt::DOUBLE * ln(cnt) ORDER BY u)), (a, b) -> a + b) AS s
         |  FROM tc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(ce.n, 0)::BIGINT AS n_chars_counted,
         |  coalesce(round(ln(ce.n) - ce.s / ce.n, 4), 0.0) AS char_entropy,
         |  coalesce(te.n, 0)::BIGINT AS n_tokens,
         |  coalesce(round(ln(te.n) - te.s / te.n, 4), 0.0) AS token_entropy
         |FROM documents d
         |LEFT JOIN ce ON ce.doc_id = d.doc_id
         |LEFT JOIN te ON te.doc_id = d.doc_id""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): hashed-unigram LLR of
    // the lang='en' target slice vs the whole corpus; FNV bucket replay
    // is the q136 argument (2048 divides 2^64)
    Query("q143_dsir_weights", (s, d) =>
      graft.operators.QualityRules.dsirWeights(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 2048, alpha = 0.5),
      // DSIR replay: q136's FNV bucket argument (2048 divides 2^64 so the
      // unsigned HUGEINT mod equals Spark's signed pmod); identical LLR
      // formula; bucket-ordered fold; 4dp for the ln ulp
      {
      val bucketSql = s"(${fnvSql("v")}) % 2048"
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, unnest($tokensSql) AS v
         |  FROM documents),
         |bk AS (SELECT doc_id, tgt, ($bucketSql)::BIGINT AS bucket FROM tk),
         |model AS (SELECT bucket, count(*) AS raw_cnt,
         |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_cnt
         |  FROM bk GROUP BY bucket),
         |tot AS (SELECT sum(raw_cnt)::BIGINT AS r, sum(tgt_cnt)::BIGINT AS t
         |  FROM model),
         |sm AS (SELECT bucket,
         |    ln((tgt_cnt + 0.5) / (t + 1024.0))
         |      - ln((raw_cnt + 0.5) / (r + 1024.0)) AS lnl
         |  FROM model CROSS JOIN tot),
         |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM bk
         |  GROUP BY 1, 2),
         |agg AS (SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
         |    list_reduce(list_prepend(0.0,
         |      list(cnt::DOUBLE * lnl ORDER BY bucket)), (a, b) -> a + b) AS s
         |  FROM db JOIN sm USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(round(a.s, 4), 0.0) AS dsir_weight
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin
    }),

    // URL/domain curation league table: deterministic synthetic URLs
    // (the mediaFromDocuments convention — mixed .com/.co.uk/.org TLDs,
    // every 7th doc on a blocklisted ad domain), registrable-domain
    // extraction through parse_url incl. the co.uk multi-part suffix,
    // blocklist gate AND Gopher keep → per-domain keep-rate
    Query("q256_domain_curation", (s, d) => {
      val tlds = array(lit("com"), lit("co.uk"), lit("org"))
      val withUrl = t(s, d, "documents").withColumn("url",
        concat(lit("https://"),
          when(col("doc_id") % 7 === 0, lit("ads.tracker-net"))
            .otherwise(concat(lit("www."), col("source"))),
          lit("."),
          element_at(tlds, (col("doc_id") % 3).cast("int") + 1),
          lit("/p/"), col("doc_id")))
      graft.operators.QualityRules.domainCuration(withUrl, "doc_id", "url",
        "text", blocklist =
          Seq("tracker-net.com", "tracker-net.co.uk", "tracker-net.org"))
    },
      // Domain-curation replay: same synthetic URLs, host by regexp (the
      // generic form — exercises the parse, not the construction), same
      // multi-part-suffix registrable-domain rule, blocklist AND Gopher
      // keep, per-domain rollup
      s"""WITH q AS ($gopherQualityOracleSql),
         |u AS (SELECT doc_id, 'https://' ||
         |    CASE WHEN doc_id % 7 = 0 THEN 'ads.tracker-net'
         |      ELSE 'www.' || source END ||
         |    '.' || (['com', 'co.uk', 'org'])[(doc_id % 3)::INT + 1] ||
         |    '/p/' || doc_id AS url
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    rtrim(lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)),
         |      '.') AS host
         |  FROM u),
         |lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
         |dom AS (SELECT doc_id,
         |    CASE WHEN len(ls) >= 3 AND (ls[-2] || '.' || ls[-1]) IN
         |        ('co.uk', 'org.uk', 'ac.uk', 'gov.uk', 'com.au', 'net.au',
         |         'co.jp', 'co.in', 'com.br', 'co.nz')
         |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
         |      WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
         |      ELSE host END AS domain
         |  FROM lab),
         |j AS (SELECT dom.domain, q.n_words, q.keep,
         |    dom.domain IN ('tracker-net.com', 'tracker-net.co.uk',
         |      'tracker-net.org') AS blocked
         |  FROM dom JOIN q ON q.doc_id = dom.doc_id)
         |SELECT domain, count(*)::BIGINT AS docs,
         |  CAST(sum(n_words) AS BIGINT) AS words,
         |  max(blocked) AS blocked,
         |  CAST(sum(CASE WHEN NOT blocked AND keep THEN 1 ELSE 0 END)
         |    AS BIGINT) AS kept,
         |  sum(CASE WHEN NOT blocked AND keep THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*) AS keep_rate
         |FROM j GROUP BY domain""".stripMargin),

    // k-anonymity audit over (lang, source, length-centile) quasi-
    // identifiers: per-threshold census of sub-k equivalence classes
    // and the rows they expose — the structural re-identification
    // screen next to the literal-PII redaction pass
    Query("q304_k_anonymity", (s, d) =>
      graft.operators.QualityRules.kAnonymityAudit(
        t(s, d, "documents"),
        Seq(col("lang"), col("source"), expr("n_chars div 100").as("lb"))),
      // k-anonymity replay: class sizes → size histogram → threshold
      // sweep on the histogram, exact integers, one final divide
      """WITH g AS (SELECT lang, source, n_chars // 100 AS lb,
        |    count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |h AS (SELECT c, count(*)::BIGINT AS gn FROM g GROUP BY c),
        |t AS (SELECT SUM(gn)::BIGINT AS n_groups,
        |    SUM(c * gn)::BIGINT AS n_rows FROM h),
        |kk AS (SELECT unnest([2, 5, 10, 20]) AS k),
        |v AS (SELECT kk.k,
        |    COALESCE(SUM(h.gn), 0)::BIGINT AS vg,
        |    COALESCE(SUM(h.c * h.gn), 0)::BIGINT AS vr
        |  FROM kk LEFT JOIN h ON h.c < kk.k GROUP BY kk.k)
        |SELECT v.k, n_groups, n_rows, vg AS n_violating_groups,
        |  vr AS n_rows_at_risk,
        |  round(vr::DOUBLE / n_rows::DOUBLE, 4) AS risk_share
        |FROM v CROSS JOIN t""".stripMargin),

    // Trojan-source security audit end to end: deterministic invisible-
    // character injections (bidi overrides every 7th doc, zero-width
    // padding every 11th, a C0 control every 13th, a Cyrillic homoglyph
    // word every 17th) must each be caught by exactly the right counter
    Query("q334_trojan_audit", (s, d) =>
      graft.operators.QualityRules.trojanSourceAudit(
        trojanInjected(t(s, d, "documents")), "doc_id", "text"),
      // Trojan-audit replay: chr()-built injections (same code points as
      // the engine's \u escapes), RE2 \x{...} classes mirroring the Java
      // ones, code-point strip-and-measure counts
      (trojanOracleCtes + """
        |SELECT doc_id, n_bidi, n_zero_width, n_control, mixed_script,
        |  (n_bidi = 0 AND n_zero_width = 0 AND n_control = 0
        |    AND NOT mixed_script) AS clean
        |FROM a""".stripMargin)),

    // Green-list watermark screen (Kirchenbauer-style provenance
    // audit): per-doc green-pair fraction + one-proportion z from a
    // context-keyed FNV parity — pure per-row column program, zero
    // shuffles; natural text sits at green_frac ≈ 0.5
    Query("q353_watermark_screen", (s, d) =>
      graft.operators.QualityRules.watermarkScreen(
        t(s, d, "documents"), "doc_id", "text"),
      // Watermark replay: same tokenization, FNV-64 parity of
      // (prev ‖ 0x01 ‖ cur) per adjacent pair via the HUGEINT chain;
      // green_frac and z are single IEEE ops on exact integers
      watermarkOracleSql),

    // Pooled per-source watermark detection: Z = (2G−M)/√M over each
    // source's total context pairs — exact integer partial+final sums,
    // flags a machine-generated SOURCE even when no single doc trips
    Query("q355_watermark_by_source", (s, d) =>
      graft.operators.QualityRules.watermarkBySource(
        t(s, d, "documents"), "doc_id", "text", "source"),
      // Pooled-source replay: exact integer G/M sums over the per-doc
      // frame, then the same two final IEEE ops
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, len(toks) - 1 AS m,
         |    len(list_filter(generate_series(1, len(toks) - 1),
         |      pi -> (${fnvSql("toks[pi] || chr(1) || toks[pi+1]")}) % 2 = 0))
         |      AS g
         |  FROM tk WHERE len(toks) >= 2)
         |SELECT d.source, count(*)::BIGINT AS k_docs,
         |  sum(p.m)::BIGINT AS m_pairs, sum(p.g)::BIGINT AS g_green,
         |  sum(p.g)::DOUBLE / sum(p.m)::DOUBLE AS green_frac,
         |  (2 * sum(p.g) - sum(p.m))::DOUBLE / sqrt(sum(p.m)::DOUBLE)
         |    AS pooled_z
         |FROM p JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin),

    // Cochran's Q over THREE paired document gates (Gopher keep /
    // 100-word length / stopword floor): the k-gate generalization of
    // q359 — all-integer numerator and denominator, one final divide
    Query("q362_cochran_q", (s, d) => {
      val g = graft.operators.QualityRules.gopherQuality(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.Eval.cochranQ(g, Seq(col("keep"),
        col("n_words") >= 100L, col("stopword_hits") >= 2L))
    },
      // Cochran replay: shared Gopher frame, all-integer Q arithmetic
      s"""WITH g AS ($gopherQualityOracleSql),
         |r AS (SELECT
         |    (CASE WHEN keep THEN 1 ELSE 0 END
         |      + CASE WHEN n_words >= 100 THEN 1 ELSE 0 END
         |      + CASE WHEN stopword_hits >= 2 THEN 1 ELSE 0 END) AS ri,
         |    CASE WHEN keep THEN 1 ELSE 0 END AS g0,
         |    CASE WHEN n_words >= 100 THEN 1 ELSE 0 END AS g1,
         |    CASE WHEN stopword_hits >= 2 THEN 1 ELSE 0 END AS g2
         |  FROM g),
         |a AS (SELECT count(*)::BIGINT AS n_items,
         |    sum(ri)::BIGINT AS nn, sum(ri * ri)::BIGINT AS r2,
         |    sum(g0)::BIGINT AS c0, sum(g1)::BIGINT AS c1,
         |    sum(g2)::BIGINT AS c2
         |  FROM r)
         |SELECT n_items, 3 AS k_gates,
         |  CASE WHEN 3 * nn - r2 > 0 THEN
         |    (2 * (3 * (c0*c0 + c1*c1 + c2*c2) - nn * nn))::DOUBLE
         |      / (3 * nn - r2)::DOUBLE
         |  END AS q_stat,
         |  2 AS df
         |FROM a""".stripMargin),

    // McNemar paired-gate disagreement: is the Gopher keep gate
    // systematically stricter than a plain 100-word length gate on the
    // SAME documents? 2×2 census + χ² on the discordant cells only
    Query("q359_mcnemar_gates", (s, d) => {
      val g = graft.operators.QualityRules.gopherQuality(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.Eval.mcnemar(g, col("keep"), col("n_words") >= 100L)
    },
      // McNemar replay: the shared Gopher frame, the length gate, exact
      // discordant-cell arithmetic
      s"""WITH g AS ($gopherQualityOracleSql)
         |SELECT sum(CASE WHEN keep AND n_words >= 100 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n11,
         |  sum(CASE WHEN keep AND n_words < 100 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n10,
         |  sum(CASE WHEN NOT keep AND n_words >= 100 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n01,
         |  sum(CASE WHEN NOT keep AND n_words < 100 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n00,
         |  CASE WHEN sum(CASE WHEN keep <> (n_words >= 100) THEN 1 ELSE 0
         |      END) > 0 THEN
         |    (sum(CASE WHEN keep AND n_words < 100 THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN NOT keep AND n_words >= 100 THEN 1 ELSE 0
         |        END))::DOUBLE
         |    * (sum(CASE WHEN keep AND n_words < 100 THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN NOT keep AND n_words >= 100 THEN 1 ELSE 0
         |        END))::DOUBLE
         |    / (sum(CASE WHEN keep <> (n_words >= 100) THEN 1 ELSE 0 END))
         |      ::DOUBLE
         |  END AS chi2,
         |  CASE WHEN sum(CASE WHEN keep <> (n_words >= 100) THEN 1 ELSE 0
         |      END) > 0 THEN
         |    greatest(abs(sum(CASE WHEN keep AND n_words < 100 THEN 1
         |        ELSE 0 END)
         |      - sum(CASE WHEN NOT keep AND n_words >= 100 THEN 1 ELSE 0
         |        END)) - 1, 0)::DOUBLE
         |    * greatest(abs(sum(CASE WHEN keep AND n_words < 100 THEN 1
         |        ELSE 0 END)
         |      - sum(CASE WHEN NOT keep AND n_words >= 100 THEN 1 ELSE 0
         |        END)) - 1, 0)::DOUBLE
         |    / (sum(CASE WHEN keep <> (n_words >= 100) THEN 1 ELSE 0 END))
         |      ::DOUBLE
         |  END AS chi2_corrected
         |FROM g""".stripMargin),

    // URL canonicalization + duplicate-URL census: synthetic raw URLs
    // varying host case / tracking params / param order / trailing
    // slash / fragment collapse onto shared canonical forms — the
    // crawl-frontier dedup key
    Query("q282_url_canonical", (s, d) => {
      val raw = t(s, d, "documents").withColumn("url",
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.EXAMPLE.COM"))
            .otherwise(lit("https://www.example.com")),
          lit("/Article/"), expr("doc_id div 4"),
          when(col("doc_id") % 4 === 1,
            lit("?utm_source=feed&b=2&a=1"))
            .when(col("doc_id") % 4 === 2, lit("?a=1&b=2"))
            .when(col("doc_id") % 4 === 3, lit("/"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("#sec")).otherwise(lit(""))))
      graft.operators.QualityRules.urlDupCensus(raw, "doc_id", "url")
    },
      // URL-canonicalization replay: same synthetic URLs, same regex
      // stages (fragment strip, authority lower, tracking-param filter,
      // param sort, trailing-slash strip), census rollup
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.EXAMPLE.COM'
        |      ELSE 'https://www.example.com' END)
        |    || '/Article/' || (doc_id // 4)
        |    || (CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed&b=2&a=1'
        |        WHEN doc_id % 4 = 2 THEN '?a=1&b=2'
        |        WHEN doc_id % 4 = 3 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |p AS (SELECT doc_id, url,
        |    regexp_extract(nofrag, '^([^?]*)', 1) AS base,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS query FROM c),
        |a AS (SELECT doc_id, url, base, query,
        |    regexp_extract(base,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) AS auth FROM p),
        |q AS (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(query, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))), '&') AS q2
        |  FROM a),
        |canon AS (SELECT doc_id, url,
        |    lower(auth)
        |    || regexp_replace(substring(base, length(auth) + 1), '/$', '')
        |    || (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END)
        |      AS canonical_url
        |  FROM q)
        |SELECT canonical_url, count(*)::BIGINT AS n_urls,
        |  count(DISTINCT url)::BIGINT AS n_variants,
        |  min(doc_id) AS keep_id
        |FROM canon GROUP BY canonical_url""".stripMargin),

    // Quality-score calibration (reliability table): decile buckets of
    // quality_score vs the Gopher-gate pass rate — is 0.8 really 80%?
    Query("q265_quality_calibration", (s, d) => {
      val score = TextAnalysis.qualityScores(
        t(s, d, "documents"), "doc_id", "text")
      val keep = graft.operators.QualityRules.gopherQuality(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("keep"))
      graft.operators.QualityRules.calibrationTable(
        score.join(keep, Seq("doc_id")),
        col("quality_score"), col("keep"))
    },
      // Calibration replay: shared quality-score and Gopher chains as
      // nested subqueries, floor-bucketed, per-bucket pass rate
      s"""WITH s AS ($qualityScoreOracleSql),
         |g AS ($gopherQualityOracleSql),
         |b AS (SELECT least(CAST(floor(s.quality_score * 10) AS BIGINT), 9)
         |    AS bucket, g.keep
         |  FROM s JOIN g USING (doc_id))
         |SELECT bucket, count(*)::BIGINT AS n,
         |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         |  round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 4) AS pos_rate
         |FROM b GROUP BY bucket""".stripMargin),

    // Encoding-anomaly census per source: U+FFFD / C0-control /
    // double-encoding-marker doc counts + non-ASCII char ratio — the
    // mojibake audit before training
    Query("q200_encoding_audit", (s, d) =>
      graft.operators.QualityRules.encodingAudit(t(s, d, "documents"),
        "source", "text"),
      // Encoding-audit replay: identical char classes (RE2 and Java both
      // take \\x escapes; chr(65533)=U+FFFD, chr(195)=Ã, chr(194)=Â),
      // char-semantics length() on both engines
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_replacement,
        |  sum(CASE WHEN regexp_matches(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]') THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_control,
        |  sum(CASE WHEN contains(text, chr(195)) OR contains(text, chr(194))
        |    THEN 1 ELSE 0 END)::BIGINT AS n_mojibake,
        |  sum(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')))
        |    ::BIGINT AS n_nonascii_chars,
        |  round(sum(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')))
        |      ::DOUBLE / sum(length(text))::DOUBLE, 4) AS nonascii_rate
        |FROM documents GROUP BY source""".stripMargin),

    // Per-source curation league table: Gopher keep-rate and mean
    // quality stats per source (exact quotients; the report a curation
    // run ends with)
    Query("q175_source_league", (s, d) => {
      val q = graft.operators.QualityRules.gopherQuality(
        t(s, d, "documents"), "doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("source"))
        .join(q, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(col("n_words")).as("words"))
        .select(col("source"), col("docs"), col("kept"), col("words"),
          (col("kept").cast("double") / col("docs")).as("keep_rate"))
    },
      // Source-league replay: the q140 quality replay joined back to
      // sources, exact quotient keep rates
      s"""WITH q AS ($gopherQualityOracleSql)
         |SELECT d.source, count(*)::BIGINT AS docs,
         |  CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |  CAST(sum(q.n_words) AS BIGINT) AS words,
         |  sum(CASE WHEN q.keep THEN 1 ELSE 0 END)::DOUBLE / count(*)
         |    AS keep_rate
         |FROM documents d JOIN q ON q.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin))
}
