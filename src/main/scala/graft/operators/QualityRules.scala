package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Document-level quality filters from the published pretraining-data
  * curation recipes: the Gopher rules (Rae et al. 2021, "Scaling Language
  * Models: ... Gopher", Appendix A1.1), the C4 line filters (Raffel et
  * al. 2020, §2.2) and DSIR hashed-n-gram importance weights (Xie et al.
  * 2023, "Data Selection for Language Models via Importance Resampling").
  *
  * Reference scope: dongmofr2000/projet-meteo-etl has no text-curation
  * stage at all (quality_audit.py:1-80 audits numeric ranges only); these
  * operators are the training-data-pipeline extension the brief asks for.
  *
  * Scale notes (the design constraint for every entry point here):
  *   - [[gopherQuality]] and [[c4LineFilter]] are PURE per-row column
  *     programs — a narrow map over the corpus scan, zero shuffles, so
  *     they run at I/O speed on any number of executors.
  *   - [[gopherRepetition]], [[entropyScores]] and [[dsirWeights]] need
  *     within-doc or corpus-level frequencies; each uses ONE explode
  *     whose shuffle rows are (id, small-string/bucket) with map-side
  *     partial aggregation — document payloads never shuffle.
  */
object QualityRules {

  /** Sum of element lengths of a string-array column (0 for empty). */
  private def sumLen(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + length(x))

  /** The q107 line synthesis: lines as `lineLen`-token chunks (the corpus
    * is one unbroken line per doc). Shared by the repetition and C4
    * entries so engine and oracle agree on what a "line" is.
    */
  def syntheticLines(toks: Column, lineLen: Int): Column =
    when(size(toks) > 0,
      // integer chunk count: Column./ is double division, so floor+cast
      transform(sequence(lit(0),
          floor((size(toks) - 1) / lit(lineLen.toDouble)).cast("int")),
        i => array_join(slice(toks, i * lineLen + 1, lit(lineLen)), " ")))
      .otherwise(array())

  /** Gopher repetition rules (Rae et al. 2021 A1.1 "repetitious" filters),
    * per document:
    *   - `dup_line_frac`      — 1 − distinct lines / lines
    *   - `dup_line_char_frac` — chars in line occurrences beyond the
    *                            first / total line chars
    *   - `top2_char_frac`, `top3_char_frac` — chars covered by the most
    *     frequent word {2,3}-gram (count × gram chars / text chars);
    *     ties broken toward the lexicographically smallest gram
    *   - `dup5_char_frac`     — chars covered by word 5-grams occurring
    *     more than once (overlap-uncorrected, as in the paper's cheap
    *     form): Σ_{count>1} count × gram chars / text chars
    *
    * Shape: a PURE per-row column program — zero shuffles (r12
    * optimization, guide §2.4 "remove shuffles outright"). Line metrics
    * are array ops on the staged token array. Gram metrics run as a
    * per-document run-length scan over the SORTED n-gram array: within
    * one document, equal n-grams are adjacent after array_sort, so one
    * left-to-right fold yields every gram's count — the top-(count DESC,
    * gram ASC) char coverage and the duplicated-gram char mass — without
    * ever materializing the (id, n, gram) frame. The previous shape
    * (explode → repartition(id) → three aggregations → join) shuffled a
    * near-unique-key frame 3|tokens| rows tall; at sf100 that was 12 GB
    * of shuffle and 31 GB of spill for a computation that never needed
    * to leave its row. Ascending-order iteration with strict-greater
    * replacement reproduces min_by(struct(cnt, glen),
    * struct(-cnt, gram)) exactly: the lexicographically smallest gram
    * among the maximal counts wins.
    *
    * All output ratios are quotients of exact integers — one correctly
    * rounded IEEE op on identical inputs — so results are bit-identical
    * cross-engine with no display rounding.
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      lineLen: Int = 10): DataFrame = {
    val staged = df.select(col(idCol), length(col(textCol)).as("__tlen"),
      tokens(col(textCol)).as("__toks"))

    // r12: the per-row gram/line programs (3 × transform+array_join gram
    // builds, array_sort, an interpreted aggregate() run-length scan with
    // a 6-field struct per step, plus array_distinct + Σlength over the
    // synthetic lines) are two codegen'd kernels. gramRunStats pins the
    // identical sort order (UTF8String natural = array_sort on strings),
    // run/tie rules and codepoint char lengths; lineDupStats pins the
    // chunking, first-occurrence distinctness and length sums. Counts
    // are exact integers, so results are bit-identical.
    import graft.functions.HashFunctions.{gramRunStats, lineDupStats}
    val lined = staged.select(col(idCol), col("__tlen"), col("__toks"),
      lineDupStats(col("__toks"), lineLen).as("__ls"))

    lined.select(
      col(idCol),
      col("__tlen"),
      col("__ls.n_lines").as("n_lines"),
      when(col("__ls.n_lines") > 0,
        lit(1.0) - col("__ls.n_distinct").cast("double") /
          col("__ls.n_lines")).otherwise(lit(0.0)).as("dup_line_frac"),
      when(col("__ls.sum_len") > 0,
        (col("__ls.sum_len") - col("__ls.distinct_sum_len"))
          .cast("double") / col("__ls.sum_len"))
        .otherwise(lit(0.0)).as("dup_line_char_frac"),
      gramRunStats(col("__toks"), 2).as("__g2"),
      gramRunStats(col("__toks"), 3).as("__g3"),
      gramRunStats(col("__toks"), 5).as("__g5"))
    .select(col(idCol), col("n_lines"), col("dup_line_frac"),
      col("dup_line_char_frac"),
      when(col("__tlen") > 0,
        col("__g2.top").cast("double") / col("__tlen"))
        .otherwise(lit(0.0)).as("top2_char_frac"),
      when(col("__tlen") > 0,
        col("__g3.top").cast("double") / col("__tlen"))
        .otherwise(lit(0.0)).as("top3_char_frac"),
      when(col("__tlen") > 0,
        col("__g5.dup").cast("double") / col("__tlen"))
        .otherwise(lit(0.0)).as("dup5_char_frac"))
  }

  /** Gopher document-quality rules (Rae et al. 2021 A1.1), per document:
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio
    * ('#' and '…'-as-'...' counts), bullet-/ellipsis-line fractions,
    * alphabetic-word fraction, stopword-hit floor — and the conjunctive
    * `keep` verdict. A pure per-row column program: zero shuffles, runs
    * at scan speed at any scale. All ratios are exact integer quotients.
    */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      lineLen: Int = 10): DataFrame = {
    val staged = df.select(col(idCol), col(textCol).as("__t"),
      tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__t"), col("__toks"),
        syntheticLines(col("__toks"), lineLen).as("__lines"))
    val nW = size(col("__toks"))
    val hashCnt = length(col("__t")) - length(regexp_replace(col("__t"), "#", ""))
    val ellCnt = (length(col("__t")) -
      length(regexp_replace(col("__t"), "\\.\\.\\.", ""))) / 3
    val bulletLines = size(filter(col("__lines"),
      l => l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
    val ellLines = size(filter(col("__lines"), l => l.endsWith("...")))
    val alphaWords = size(filter(col("__toks"), t => t.rlike("[a-zA-Z]")))
    val swHits = size(filter(col("__toks"),
      t => array_contains(array(graft.functions.TextFunctions.DefaultStopwords
        .map(lit): _*), t)))
    val meanLen = when(nW > 0, sumLen(col("__toks")).cast("double") / nW)
      .otherwise(lit(0.0))
    val symRatio = when(nW > 0, (hashCnt + ellCnt).cast("double") / nW)
      .otherwise(lit(0.0))
    val bulletFrac = when(size(col("__lines")) > 0,
      bulletLines.cast("double") / size(col("__lines"))).otherwise(lit(0.0))
    val ellFrac = when(size(col("__lines")) > 0,
      ellLines.cast("double") / size(col("__lines"))).otherwise(lit(0.0))
    val alphaFrac = when(nW > 0, alphaWords.cast("double") / nW)
      .otherwise(lit(0.0))
    staged.select(col(idCol),
      nW.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      symRatio.as("symbol_to_word"),
      bulletFrac.as("bullet_line_frac"),
      ellFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      swHits.cast("long").as("stopword_hits"),
      (nW >= minWords && nW <= maxWords &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio < 0.1 && bulletFrac < 0.9 && ellFrac < 0.3 &&
        alphaFrac > 0.8 && swHits >= 2).as("keep"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2): drop lines with
    * fewer than `minWordsPerLine` words or containing a blocklisted
    * term; drop documents left with fewer than `minLines` lines. Returns
    * (id, n_lines_kept, text_clean) for surviving docs, lines re-joined
    * with '\n'. Pure per-row (filter over the staged lines array — the
    * blocklist is a literal array in the plan): zero shuffles.
    */
  def c4LineFilter(docs: DataFrame, idCol: String, linesCol: Column,
      blocklist: Seq[String], minWordsPerLine: Int = 5,
      minLines: Int = 3): DataFrame = {
    val bl = array(blocklist.map(lit): _*)
    // words = non-empty whitespace-run tokens (the tokens() contract):
    // a single-space split would count doubled/leading spaces as words
    // ("a  b  c" → 5) and a tab-separated line as one word
    val kept = filter(linesCol,
      l => size(filter(split(l, "\\s+"), t => length(t) > 0))
        >= minWordsPerLine &&
        !exists(bl, b => l.contains(b)))
    docs.select(col(idCol), kept.as("__kept"))
      .filter(size(col("__kept")) >= minLines)
      .select(col(idCol), size(col("__kept")).cast("long").as("n_lines_kept"),
        array_join(col("__kept"), "\n").as("text_clean"))
  }

  /** Shannon entropy of the character and token distributions of each
    * document — the cheap gibberish/low-diversity signal (low char
    * entropy ⇒ repeated characters; low token entropy ⇒ templated text).
    *
    * H = ln(n) − (Σ c·ln c)/n over per-unit counts c. The Σ c·ln c fold
    * runs over counts SORTED BY UNIT VALUE (collect_list → array_sort →
    * left fold), so the floating-point summation order is deterministic
    * and replayable by the SQL oracle's ordered list_reduce; the final
    * value is rounded to 4 decimals because JVM Math.log and libm ln
    * differ by 1 ulp on ~1% of inputs (the q118 finding — NOTES.md).
    *
    * Shape: two explodes (chars, tokens), each shuffling (id, unit) with
    * map-side count partial-agg; per-doc distinct-unit sets are small
    * (alphabet / vocabulary), so the collect_list is bounded.
    */
  def entropyScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def entropyOf(units: DataFrame, unit: String, nName: String,
        hName: String): DataFrame =
      units.groupBy(col(idCol), col(unit))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col(idCol))
        .agg(sum(col("cnt")).as(nName),
          aggregate(
            transform(array_sort(collect_list(struct(col(unit), col("cnt")))),
              x => x.getField("cnt").cast("double") * log(x.getField("cnt"))),
            lit(0.0), (acc, x) => acc + x).as("__s"))
        .select(col(idCol), col(nName),
          round(log(col(nName)) - col("__s") / col(nName), 4).as(hName))

    val staged = df.select(col(idCol), lower(col(textCol)).as("__lo"),
      tokens(col(textCol)).as("__toks"))
    val chars = staged
      .select(col(idCol),
        explode(graft.functions.TextFunctions.charNgrams(col("__lo"), 1))
          .as("ch"))
    val toks = staged.select(col(idCol), explode(col("__toks")).as("tk"))
    df.select(col(idCol))
      .join(entropyOf(chars, "ch", "n_chars_counted", "char_entropy"),
        Seq(idCol), "left")
      .join(entropyOf(toks, "tk", "n_tokens", "token_entropy"),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chars_counted"), lit(0L)).as("n_chars_counted"),
        coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_entropy"), lit(0.0)).as("token_entropy"))
  }

  /** DSIR importance weights (Xie et al. 2023): score each document by
    * how much its hashed-unigram distribution looks like a TARGET slice
    * of the corpus versus the corpus overall —
    * w(doc) = Σ_tokens ln λ(bucket), with per-bucket log-likelihood ratio
    * ln λ_b = ln((tgt_b+α)/(T+αB)) − ln((raw_b+α)/(R+αB)) under add-α
    * smoothing. High weight ⇒ resample toward the target distribution.
    *
    * Shape: one token explode → FNV bucket (the q136 hashing, replayable
    * in SQL since B divides 2^64) → per-(id,bucket) counts with map-side
    * partial agg; the B-row model is built from the SAME exploded frame
    * and broadcast back; the per-doc Σ cnt·lnλ folds in bucket order
    * (deterministic FP, oracle-replayable) and rounds to 4 decimals (ln
    * ulp — NOTES.md). Document payloads never shuffle; the model join is
    * a broadcast.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 2048, alpha: Double = 0.5): DataFrame = {
    require((buckets & (buckets - 1)) == 0,
      "buckets must be a power of two (oracle replays the unsigned mod)")
    // r13 (guide §2.4, the q112 termCounts pattern): per-doc bucket
    // frequencies never cross rows, so the corpus-token explode +
    // groupBy(id, bucket) collapse into the in-row bucketCounts kernel
    // (identical pmod-FNV bucketing), and the model aggregation sums
    // the per-doc (bucket, cnt) partials instead of shuffling raw
    // token rows. The staged frame feeds both the model build and the
    // per-doc scoring (the lazy-checkpoint staging discipline).
    val spine = df.select(col(idCol), isTarget.as("__tgt"),
        graft.functions.HashFunctions
          .bucketCounts(tokens(col(textCol)), buckets).as("__bc"))
      .transform(Stage.scoped(eager = false))
    val docBuckets = spine
      .select(col(idCol), col("__tgt"), explode(col("__bc")).as("__e"))
      .select(col(idCol), col("__tgt"),
        col("__e.bucket").as("bucket"), col("__e.cnt").as("cnt"))
    val model = docBuckets.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("raw_cnt"),
        sum(when(col("__tgt"), col("cnt")).otherwise(0L)).as("tgt_cnt"))
    val totals = model.agg(sum(col("raw_cnt")).as("__r"),
      sum(col("tgt_cnt")).as("__t"))
    val scoredModel = model.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("tgt_cnt") + lit(alpha)) /
            (col("__t") + lit(alpha * buckets))) -
          log((col("raw_cnt") + lit(alpha)) /
            (col("__r") + lit(alpha * buckets)))).as("lnl"))
    val perDoc = docBuckets.join(broadcast(scoredModel), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("bucket"),
            (col("cnt").cast("double") * col("lnl")).as("term")))),
            x => x.getField("term")),
          lit(0.0), (acc, x) => acc + x).as("__s"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(round(col("__s"), 4), lit(0.0)).as("dsir_weight"))
  }

  /** Encoding-anomaly census per group: the mojibake / corruption audit
    * a web-scale text pipeline runs before training — per `groupCol`,
    * how many documents carry a U+FFFD replacement character (decoder
    * already gave up), C0 control characters outside \t\n\r (binary
    * spill), or the UTF-8-read-as-Latin-1 double-encoding markers
    * (Ã / Â lead bytes), plus the corpus-level non-ASCII character
    * ratio. Pure per-row flags (codegen contains/rlike/regexp_replace —
    * zero shuffle until the tiny per-group aggregate); exact integer
    * counts, single-divide 4dp rates.
    */
  def encodingAudit(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(flag: Column): Column = sum(when(flag, 1L).otherwise(0L))
    df.select(col(groupCol).as("g"), t.as("__t"))
      .withColumn("__nonascii",
        length(regexp_replace(col("__t"), "[\u0000-\u007F]", ""))
          .cast("long"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        cnt(col("__t").contains("\uFFFD")).as("n_replacement"),
        cnt(col("__t").rlike("[\u0000-\u0008\u000B\u000C\u000E-\u001F]"))
          .as("n_control"),
        cnt(col("__t").contains("\u00C3") || col("__t").contains("\u00C2"))
          .as("n_mojibake"),
        sum(col("__nonascii")).as("n_nonascii_chars"),
        sum(length(col("__t")).cast("long")).as("__nchars"))
      .select(col("g").as(groupCol), col("n_docs"), col("n_replacement"),
        col("n_control"), col("n_mojibake"), col("n_nonascii_chars"),
        round(col("n_nonascii_chars").cast("double") /
          col("__nchars").cast("double"), 4).as("nonascii_rate"))
  }

  /** Trojan-source / invisible-character security audit per document
    * (Boucher & Anderson 2021, "Trojan Source: Invisible Vulnerabilities
    * in Source Code", CVE-2021-42574; Unicode TS39's confusable problem
    * reduced to its highest-signal cases) — the pre-training safety pass
    * [[encodingAudit]] doesn't cover: direction-override smuggling (text
    * RENDERS one way, tokenizes another), zero-width space/joiner/BOM
    * padding (dedup and watermark evasion), stray C0 controls, and
    * Latin↔Cyrillic homoglyph words (phishing-grade lookalikes).
    *
    * Counts are code-point exact via strip-and-measure (length minus the
    * class-stripped length — `length` counts code points on both
    * engines, and every audited class is BMP); the mixed-script flag
    * fires on a Latin letter DIRECTLY adjacent to a Cyrillic one.
    * Patterns use `\x{...}` escapes (the syntax Java regex and RE2
    * share). Pure per-row codegen expressions — zero shuffle; null-text
    * rows are excluded.
    */
  def trojanSourceAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    def classCount(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    df.filter(t.isNotNull).select(
        col(idCol),
        classCount("[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]").as("n_bidi"),
        classCount("[\\x{200B}-\\x{200D}\\x{FEFF}]").as("n_zero_width"),
        classCount("[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]")
          .as("n_control"),
        t.rlike("[A-Za-z][\\x{0400}-\\x{04FF}]|[\\x{0400}-\\x{04FF}][A-Za-z]")
          .as("mixed_script"))
      .withColumn("clean",
        col("n_bidi") === 0 && col("n_zero_width") === 0 &&
          col("n_control") === 0 && !col("mixed_script"))
  }

  /** Multi-part public suffixes for [[registrableDomain]] — a
    * representative subset of the Public Suffix List (publicsuffix.org);
    * swap in the full list for production crawls. Under these, the
    * registrable domain keeps THREE labels (example.co.uk), not two.
    */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "co.jp", "co.in", "com.br", "co.nz")

  /** Registrable ("pay-level") domain of a URL — the unit C4/RefinedWeb
    * curation gates and rolls up on. `parse_url(HOST)` (codegen'd,
    * Hive-compatible) extracts the lowercased host — ports, userinfo,
    * paths and queries never leak into it — then the last two labels
    * form the domain, or three when the two-label tail is a known
    * multi-part public suffix. Null for URLs with no parseable host
    * (garbage, scheme-less strings); bare single-label hosts
    * (`localhost`) pass through whole.
    */
  def registrableDomain(url: Column,
      multiSuffixes: Seq[String] = MultiPartSuffixes): Column = {
    // strip the (valid, DNS-equivalent) trailing-dot FQDN form first:
    // "tracker.com." would otherwise split to a trailing empty label
    // and yield domain "com." — collapsing unrelated sites into one
    // rollup row and slipping past blocklist entries
    val host = regexp_replace(lower(parse_url(url, lit("HOST"))),
      "\\.+$", "")
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = concat_ws(".",
      element_at(labels, -2), element_at(labels, -1))
    when(host.isNull || host === "", lit(null).cast("string"))
      .when(n >= 3 && lastTwo.isin(multiSuffixes: _*),
        concat_ws(".", element_at(labels, -3), lastTwo))
      .when(n >= 2, lastTwo)
      .otherwise(host)
  }

  /** URL canonicalization — the crawl-frontier dedup normalizer: drop
    * the fragment, lowercase the scheme+authority (path and query stay
    * case-significant), strip tracking parameters (utm_*, gclid,
    * fbclid, msclkid, ref), sort the surviving query parameters (order
    * is not semantic), and strip one trailing "/" from the path. Two
    * raw URLs that canonicalize equal are the same fetch — the
    * dedup key a crawl stores alongside raw URLs. Pure per-row column
    * program (regex + array ops), zero shuffle; replayed term-for-term
    * by the oracle.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val authority = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)
    val path = regexp_replace(
      base.substr(length(authority) + 1, length(base)), "/$", "")
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|msclkid|ref)="))
    val q2 = array_join(array_sort(params), "&")
    concat(lower(authority), path,
      when(length(q2) > 0, concat(lit("?"), q2)).otherwise(lit("")))
  }

  /** Duplicate-URL census over [[canonicalizeUrl]]: per canonical URL
    * the raw-row count, distinct raw variants, and the min-id keeper —
    * the dedup-savings number for a URL frontier. One shuffle keyed on
    * the canonical string (hash it for 8 B keys at fleet scale).
    */
  def urlDupCensus(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(urlCol).as("__u"))
      .withColumn("canonical_url", canonicalizeUrl(col("__u")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("__u")).as("n_variants"),
        min(col("id")).as("keep_id"))

  /** k-anonymity audit over a quasi-identifier tuple — the re-
    * identification-risk census run on training data BEFORE release
    * (the structural companion of the PII redaction pass, which only
    * sees literal identifiers): for each threshold k, how many QI
    * equivalence classes have fewer than k members and how many rows
    * sit in them (those rows are k-identifiable). One partial-agg pass
    * to class sizes; everything downstream operates on the class-size
    * HISTOGRAM (≤ |distinct sizes| rows), so the thresholds sweep is
    * free. Exact integers; the one divide per row is final.
    */
  def kAnonymityAudit(df: DataFrame, quasiIdentifiers: Seq[Column],
      thresholds: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    require(quasiIdentifiers.nonEmpty && thresholds.nonEmpty, "empty audit")
    val sizes = df.groupBy(quasiIdentifiers: _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__g")) // size histogram
    val totals = sizes.agg(
      sum(col("__g")).as("__n_groups"),
      sum(col("__c") * col("__g")).as("__n_rows"))
    val spark = df.sparkSession
    import spark.implicits._
    val ks = thresholds.map(k => (k, k)).toDF("k", "__k")
    ks.crossJoin(broadcast(totals))
      .join(sizes.crossJoin(ks.select(col("__k").as("__k2")))
          .filter(col("__c") < col("__k2"))
          .groupBy(col("__k2"))
          .agg(sum(col("__g")).as("__vg"),
            sum(col("__c") * col("__g")).as("__vr")),
        col("__k") === col("__k2"), "left")
      .select(col("k"),
        col("__n_groups").as("n_groups"),
        col("__n_rows").as("n_rows"),
        coalesce(col("__vg"), lit(0L)).as("n_violating_groups"),
        coalesce(col("__vr"), lit(0L)).as("n_rows_at_risk"),
        round(coalesce(col("__vr"), lit(0L)).cast("double") /
          col("__n_rows").cast("double"), 4).as("risk_share"))
  }

  /** Score-calibration table (the reliability-diagram rollup): bucket a
    * [0,1] score into `buckets` equal bins and report, per bin, the
    * count and the positive-label rate — "does quality_score 0.8
    * actually mean 80% of those docs clear the Gopher gate?". The
    * standard check before a learned/heuristic score is used as a
    * sampling weight. Bucketing floors score·buckets (clamped to the
    * top bin so score = 1.0 lands in it); one aggregate with map-side
    * partials, output |buckets| rows.
    */
  def calibrationTable(df: DataFrame, score: Column, label: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    df.select(
        least(floor(score * buckets).cast("long"), lit(buckets - 1L))
          .as("bucket"),
        label.cast("boolean").as("__y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        round(sum(when(col("__y"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 4).as("pos_rate"))
  }

  /** URL/domain curation league table — the pre-filter stage C4 and
    * RefinedWeb run BEFORE text quality: per registrable domain, doc
    * and word volume, the blocklist verdict, and the keep-rate under
    * (not blocked) AND the Gopher quality gate. Blocklist entries are
    * registrable domains (blocking `tracker.com` blocks every
    * subdomain, which all collapse to the same registrable domain).
    *
    * Scale shape: domain extraction is a per-row column program on the
    * scan; the single shuffle is the per-domain aggregate with map-side
    * partials, keyed by domain (cardinality ≪ docs). The blocklist is a
    * literal IN-list here (typical curated lists are 1k-100k entries —
    * for those, broadcast-join a blocklist frame instead; the rollup
    * shape is unchanged).
    */
  def domainCuration(df: DataFrame, idCol: String, urlCol: String,
      textCol: String, blocklist: Seq[String]): DataFrame = {
    val q = gopherQuality(df, idCol, textCol)
      .select(col(idCol), col("n_words"), col("keep"))
    df.select(col(idCol), registrableDomain(col(urlCol)).as("domain"))
      .join(q, Seq(idCol))
      .withColumn("blocked",
        coalesce(col("domain").isin(blocklist: _*), lit(false)))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_words")).as("words"),
        max(col("blocked")).as("blocked"),
        sum(when(!col("blocked") && col("keep"), 1L).otherwise(0L)).as("kept"))
      .select(col("domain"), col("docs"), col("words"), col("blocked"),
        col("kept"),
        (col("kept").cast("double") / col("docs")).as("keep_rate"))
  }

  /** Green-list watermark screen (Kirchenbauer et al. 2023, "A Watermark
    * for Large Language Models", public): a context-keyed hash splits the
    * vocabulary into green/red halves per position; watermarked LLM text
    * over-represents green tokens, so the per-document one-proportion
    * z-score `(2g − m)/√m` over m = tokens−1 context pairs flags
    * machine-generated (watermarked) documents entering a training
    * corpus — the provenance sibling of [[trojanSourceAudit]].
    *
    * The green test here is the width-1-context form: pair (t_{i−1},
    * t_i) is green iff FNV-64(t_{i−1} ‖ 0x01 ‖ t_i) has low bit 0 — an
    * unkeyed stand-in for the scheme's seeded PRF (detection against a
    * KNOWN key is the same arithmetic with that key folded into the
    * hash). Natural text sits at green_frac ≈ 1/2 (|z| small).
    *
    * Exactness: g and m are integers; green_frac = g/m and
    * z = (2g−m)/√m are single correctly-rounded IEEE ops on exact
    * integers — raw doubles are bit-identical cross-engine (the q134
    * stance; √ is the one libm op IEEE guarantees).
    *
    * Scale: pure per-row column program over one corpus scan — the
    * pair walk is zip_with over two slices of the staged token array
    * (attribute, not subtree: HOF lambdas are interpreted, no CSE),
    * zero shuffles, I/O-bound on any executor count.
    */
  def watermarkScreen(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val staged = df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val greens = size(filter(
      zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => graft.functions.HashFunctions
          .fnv64(concat(a, lit("\u0001"), b)).bitwiseAND(lit(1L)) === 0L),
      x => x))
    staged
      .withColumn("m_pairs", (size(col("__toks")) - 1).cast("long"))
      .withColumn("g_green", greens.cast("long"))
      .select(col(idCol), col("m_pairs"), col("g_green"),
        (col("g_green").cast("double") / col("m_pairs").cast("double"))
          .as("green_frac"),
        ((lit(2L) * col("g_green") - col("m_pairs")).cast("double") /
          sqrt(col("m_pairs").cast("double"))).as("z"))
  }

  /** Corpus-level watermark detection per source — the POOLED
    * one-proportion z over all of a source's context pairs:
    * Z = (2G − M)/√M with G = Σ g_green and M = Σ m_pairs (exact
    * integer partial+final sums, O(1) buffers). A source emitting
    * watermarked (machine-generated) text surfaces with |Z| ≫ the
    * noise floor even when no single document is flaggable — detection
    * power grows with √M across the whole source. All-integer inputs
    * keep the two final IEEE ops (√, ÷) bit-identical cross-engine.
    */
  def watermarkBySource(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val perDoc = watermarkScreen(df, idCol, textCol)
      .join(df.select(col(idCol), col(sourceCol)), Seq(idCol))
    perDoc
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("k_docs"),
        sum(col("m_pairs")).as("m_pairs"),
        sum(col("g_green")).as("g_green"))
      .select(col(sourceCol), col("k_docs"), col("m_pairs"),
        col("g_green"),
        (col("g_green").cast("double") / col("m_pairs").cast("double"))
          .as("green_frac"),
        ((lit(2L) * col("g_green") - col("m_pairs")).cast("double") /
          sqrt(col("m_pairs").cast("double"))).as("pooled_z"))
  }
}
