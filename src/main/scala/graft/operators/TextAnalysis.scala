package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

import graft.functions.TextFunctions._
import graft.functions.HashFunctions._

/** Text-analysis operators over a documents table: language id, quality
  * scoring, token stats, fingerprinting. All pure Column expressions —
  * narrow, codegen'd, no shuffle except where an aggregation is requested.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles (public-knowledge function-word
    * lists). The heuristic scores each language by stopword-hit fraction
    * and takes the argmax — the classic cheap n-gram/function-word
    * language-id baseline.
    */
  val languageProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "en", "un", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"))

  /** Per-language character-bigram profiles, derived deterministically
    * from the function-word lists (the classic n-gram language-id signal;
    * word-boundary bigrams included via the padding underscore).
    */
  val bigramProfiles: Map[String, Set[String]] = languageProfiles.map {
    case (lang, words) =>
      lang -> words.flatMap { w =>
        val padded = s"_${w}_"
        padded.sliding(2).toSeq
      }.toSet
  }

  /** Distinct padded char-bigrams of a token array (expects an ATTRIBUTE —
    * see the staging PERF note in TextFunctions).
    */
  def docBigramsOf(toks: Column): Column =
    array_distinct(
      flatten(transform(toks, t => {
        val padded = concat(lit("_"), t, lit("_"))
        transform(sequence(lit(1), length(padded) - 1), i => padded.substr(i, lit(2)))
      })))

  /** Predicted language + score from STAGED token/bigram attribute columns.
    * Score blends the stopword-hit fraction (word level) with the
    * char-bigram profile overlap (sub-word level) — the bigram component
    * keeps the id robust when function words are rare or clipped.
    */
  def langIdColumns(toks: Column, docBigrams: Column): (Column, Column) = {
    val scores: Seq[(String, Column)] = languageProfiles.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        val sw = array(words.map(lit): _*)
        val profile = array(bigramProfiles(lang).toSeq.sorted.map(lit): _*)
        val stopScore = when(size(toks) > 0,
          size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
          .otherwise(lit(0.0))
        val bigramScore = when(size(docBigrams) > 0,
          size(array_intersect(docBigrams, profile)).cast("double") / size(docBigrams))
          .otherwise(lit(0.0))
        lang -> (stopScore * lit(0.7) + bigramScore * lit(0.3))
    }
    // argmax by score, ties broken by language code order
    val best = scores.map { case (lang, s) => struct(s.as("score"), lit(lang).as("lang")) }
      .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
    (best.getField("lang"), best.getField("score"))
  }

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // stage tokens + bigrams as attributes: inlined, the bigram flatten
    // would be re-evaluated once PER LANGUAGE profile. (CollapseProject
    // keeps the staging because the aliases are non-cheap and referenced
    // multiple times — no artificial barrier needed.)
    val staged = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), docBigramsOf(col("__toks")).as("__bg"))
    val (lang, score) = langIdColumns(col("__toks"), col("__bg"))
    // Raw (unrounded) score: per-row double arithmetic is bit-deterministic
    // and DuckDB reproduces it exactly, whereas Spark's round() goes through
    // BigDecimal.valueOf (shortest-decimal repr) and disagrees with DuckDB's
    // true-binary-value rounding on boundary values like 0.05624999…
    staged.select(col(idCol), lang.as("predicted_lang"), score.as("lang_score"))
  }

  /** Token-mass concentration per group (Gini over per-doc token
    * counts): 0 = every doc contributes equally, →1 = a handful of
    * giant docs carry the source — the curation diagnostic that says
    * whether a source's token budget is real breadth or three scraped
    * books. Gini = (2·Σ rank·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with ranks from
    * a per-group (x, id) window — every term is exact BIGINT until the
    * single final divide (ties in x are order-independent in Σ rank·x:
    * swapping equal values preserves the sum), 4dp.
    */
  def tokenGini(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      when(col(textCol).isNotNull, tokenCount(col(textCol)))
        .otherwise(lit(0)).cast("long").as("x"))
    val w = Window.partitionBy(col("grp")).orderBy(col("x"), col("id"))
    base.withColumn("__rn", row_number().over(w).cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("total_tokens"),
        when(sum(col("x")) > 0,
          round((lit(2L) * sum(col("__rn") * col("x")) -
            (count(lit(1)) + 1) * sum(col("x"))).cast("double") /
            (count(lit(1)) * sum(col("x"))).cast("double"), 4))
          .as("gini"))
  }

  /** Keyness league table (Dunning 1993 log-likelihood G²): which terms
    * are over-represented in the focus corpus vs the rest — the
    * corpus-linguistics "what is this subcorpus about" measure, and in
    * a training pipeline the drift/characterization screen run when a
    * new source lands. G² = 2·Σ O·ln(O/E) over the focus/rest
    * observed-vs-expected cells; unlike PMI it is count-weighted, so a
    * 10k-occurrence mild skew outranks a 3-occurrence fluke.
    *
    * Determinism: counts are exact; each term's G² is ONE fixed
    * per-row double sequence (no cross-term fold exists), ranking uses
    * the UNROUNDED value with a term tie-break (equal-count terms have
    * bit-equal G² — the BM25 ordering argument), output rounds 4dp.
    * `direction` compares rates by integer cross-multiplication.
    * Shape: one token explode + term aggregate (map-side partials),
    * totals broadcast, TakeOrderedAndProject top-k.
    */
  def keyness(df: DataFrame, textCol: String, isFocus: Column,
      topK: Int = 25): DataFrame = {
    val toksed = df
      .select(isFocus.cast("boolean").as("f"), col(textCol).as("__t"))
      .filter(col("f").isNotNull)
      .select(col("f"), explode(tokens(col("__t"))).as("w"))
    val counts = toksed.groupBy(col("w"))
      .agg(sum(when(col("f"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("f"), 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val e1 = col("n1").cast("double") * (col("c1") + col("c2")) /
      (col("n1") + col("n2"))
    val e2 = col("n2").cast("double") * (col("c1") + col("c2")) /
      (col("n1") + col("n2"))
    counts.crossJoin(broadcast(tot))
      .withColumn("__g2", lit(2.0) *
        (when(col("c1") > 0, col("c1") * log(col("c1") / e1)).otherwise(0.0) +
          when(col("c2") > 0, col("c2") * log(col("c2") / e2)).otherwise(0.0)))
      .orderBy(col("__g2").desc, col("w"))
      .limit(topK)
      .select(col("w").as("term"), col("c1"), col("c2"),
        round(col("__g2"), 4).as("g2"),
        // DECIMAL(38,0) cross-multiply: n2 is a CORPUS token total, so
        // BIGINT c1·n2 wraps past 2^63 for high-count terms at the
        // 1e13-token design point, flipping direction labels for
        // exactly the top-ranked terms (the pmiCollocations 2^53 guard,
        // applied to the exact-integer compare)
        when(col("c1").cast("decimal(38,0)") * col("n2").cast("decimal(38,0)")
          > col("c2").cast("decimal(38,0)") * col("n1").cast("decimal(38,0)"),
          "focus")
          .otherwise("rest").as("direction"))
  }

  /** Language-ID confusion matrix against a labeled column: per
    * (label, predicted) cell count, the within-label share, and the
    * diagonal flag — the calibration audit run before trusting the
    * heuristic on unlabeled crawl data. One narrow scoring pass + one
    * (label, predicted) aggregate with map-side partials; the share
    * window runs over the |langs|² cell frame, never the corpus.
    */
  def langIdConfusion(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val pred = langId(df, idCol, textCol)
    val lab = df.select(col(idCol), col(labelCol).as("label"))
    pred.join(lab, Seq(idCol))
      .groupBy(col("label"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("label"))), 4))
      .withColumn("hit", col("label") === col("predicted_lang"))
  }

  /** Per-document token/char statistics (oracle-expressible). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      tokenCount(col(textCol)).as("n_tokens"),
      bpeishTokenCount(col(textCol)).as("n_tokens_bpe"),
      round(punctRatio(col(textCol)), 4).as("punct_ratio"),
      round(stopwordRatio(col(textCol)), 4).as("stopword_ratio"),
      round(avgTokenLen(col(textCol)), 4).as("avg_token_len"))

  /** Composite quality score in [0,1]: length sweet-spot × (1 - punct
    * excess) × stopword presence — the standard cheap pretraining-data
    * quality heuristic (length/punct/stopword ratios).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore = least(nTok / lit(20.0), lit(1.0))            // <20 tokens penalized
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val swScore = least(stopwordRatio(text) * 5.0, lit(1.0))       // some function words expected
    round(lengthScore * punctScore * swScore, 4)
  }

  def qualityScores(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), qualityScore(col(textCol)).as("quality_score"))

  /** N-gram repetition ratio — the Gopher-rules quality signal for
    * repetitive/boilerplate text: 1 - distinct-ngrams / total-ngrams,
    * 0 for documents too short to form an n-gram. High values mean the
    * document repeats itself (spam, templated text, decoding loops).
    * Expects a STAGED token attribute (same interpreted-lambda note as
    * the other token consumers).
    */
  def wordRepetitionRatio(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      lit(1.0) - size(graft.functions.TextFunctions.wordShinglesOf(toks, n))
        .cast("double") / (size(toks) - (n - 1)))
      .otherwise(lit(0.0))

  /** Char-n-gram repetition over the lowercased text (byte grams via the
    * one-pass ngramHashes kernel; 64-bit collisions negligible). The
    * kernel iterates UTF-8 BYTES, so the total-gram denominator is the
    * BYTE length too — a code-point denominator would push the ratio
    * negative on multi-byte text (3 bytes/char CJK: up to 3× more byte
    * grams than char positions). ASCII text is unaffected (the oracle's
    * char-based replay relies on the corpus's verified ASCII-ness).
    */
  def charRepetitionRatio(text: Column, n: Int): Column = {
    val lo = lower(text)
    when(octet_length(lo) >= n,
      lit(1.0) - size(graft.functions.HashFunctions.ngramHashes(lo, n))
        .cast("double") / (octet_length(lo) - (n - 1)))
      .otherwise(lit(0.0))
  }

  /** Per-document repetition report (word 2/3-grams + char 5-grams).
    * Tokens are staged as a non-cheap alias referenced by both word
    * ratios — CollapseProject keeps the staging (no barrier needed).
    */
  def repetitionRatios(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = df.select(col(idCol), col(textCol), tokens(col(textCol)).as("__toks"))
    staged.select(
      col(idCol),
      wordRepetitionRatio(col("__toks"), 2).as("rep_word2"),
      wordRepetitionRatio(col("__toks"), 3).as("rep_word3"),
      charRepetitionRatio(col(textCol), 5).as("rep_char5"))
  }

  /** Content-defined chunking census (the gear/Rabin CDC idea at token
    * granularity): a token whose FNV-64 is ≡ 0 (mod `modulus`) ENDS a
    * chunk, so chunk boundaries are decided by CONTENT, not position —
    * insert one sentence and only the chunk containing it changes,
    * where fixed-size chunking would shift every later boundary (the
    * property that makes chunk-hash dedup robust to edits). Mean chunk
    * length ≈ `modulus` tokens.
    *
    * Per doc: token/chunk counts, the token mass sitting in chunks
    * whose content hash occurs more than once in the CORPUS
    * (`dup_chunk_tokens` — the chunk-granular dup signal between exact
    * doc dedup and span dedup), and its ratio.
    *
    * Scale: one posexplode pass; the boundary flag and chunk id are a
    * per-doc window cumsum (partitions bounded by document length);
    * chunk hashes aggregate with map-side partials and the global
    * occurrence count shuffles (hash, count) pairs only.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    // r13 (guide "expressions and codegen" + §2.4): chunking is per-row
    // by construction — a doc's tokens never span rows — so the token
    // posexplode + id-windowed boundary cumsum + collect_list chunk
    // rebuild (two corpus-sized exchanges and a per-doc sort) collapse
    // into ONE codegen kernel pass over the staged token array
    // ([[graft.functions.HashUtil.cdcChunkStats]]: identical boundary
    // rule, identical space-joined chunk FNV). Only chunk-stat rows
    // (16 B) ever leave the row; the cross-doc occurrence count and the
    // per-doc rollup keep their (now much narrower) shuffles.
    //
    // The chunk frame feeds three plan branches (the n_tokens spine,
    // the cross-doc occurrence count, the per-doc rollup) — without
    // materialization each branch re-runs tokenize + the chunk kernel
    // over the corpus (measured 3×/2×). One LAZY localCheckpoint stores
    // the narrow (id, n_tokens, c_tokens, ch) rows once (the
    // minHashNearDups staging discipline); every non-empty token array
    // yields ≥ 1 chunk, so the spine's (id, n_tokens) distinct reads
    // identically off the chunk rows.
    val chunks = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("long").as("n_tokens"),
        col("__toks"))
      // same doc population as the old posexplode output: toks null or
      // empty emitted no token rows (size(null) is null → filtered)
      .filter(col("n_tokens") >= 1L)
      .select(col("id"), col("n_tokens"),
        explode(graft.functions.HashFunctions
          .cdcChunkStats(col("__toks"), modulus)).as("__c"))
      .select(col("id"), col("n_tokens"),
        col("__c.c_tokens").as("c_tokens"), col("__c.ch").as("ch"))
      .transform(Stage.scoped(eager = false))
    val occ = chunks.groupBy(col("ch")).agg(count(lit(1)).as("__occ"))
    val per = chunks.join(occ, Seq("ch"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__occ") > 1, col("c_tokens")).otherwise(0L))
          .as("dup_chunk_tokens"))
    df.select(col(idCol).as("id")).distinct()
      .join(chunks.select(col("id"), col("n_tokens")).distinct(), Seq("id"), "left")
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_chunk_tokens"), lit(0L)).as("dup_chunk_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          round(coalesce(col("dup_chunk_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 4)).as("dup_ratio"))
  }

  /** Document fingerprints: whole-document FNV-1a and polynomial rolling
    * hash (both custom codegen'd Catalyst expressions).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      fnv64(col(textCol)).as("fnv64"),
      polyFingerprint(col(textCol)).as("poly_hash"),
      simhash64(tokens(col(textCol))).as("simhash"),
      winnowFingerprint(col(textCol)).as("winnow"))

  /** BM25 keyword search: score every document against a bag of query
    * terms and return the global top-k (Robertson/Spärck Jones BM25, the
    * standard probabilistic relevance function).
    *
    * Scale shape (the point of the design):
    *   - Per-doc term frequencies come from ONE staged token array per row
    *     — a narrow, map-only pass; no explode, no shuffle of postings.
    *   - Corpus statistics (N, avgdl, per-term df) are ONE tiny aggregate
    *     (single row) broadcast-cross-joined back — the classic two-pass
    *     scoring plan; global stats per row can't be had in fewer passes.
    *   - Top-k is orderBy+limit → TakeOrderedAndProject: per-partition
    *     bounded heaps merged at the driver, never a global sort.
    *   For a REPEATED-query workload you'd instead persist the exploded
    *   (term, doc, tf) postings table bucketed by term and join the query
    *   terms against it; this entry point is the single-shot scan path.
    *
    * Scores are rounded to 4 decimals and ties broken by id, so the
    * result is a total order reproducible by the SQL oracle.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qts = normalizedTerms(terms)
    val tfCols = qts.zipWithIndex.map { case (term, i) =>
      size(filter(col("__toks"), t => t === lit(term))).as(s"__tf$i")
    }
    // tokens staged as an attribute: the per-term filters are interpreted
    // higher-order lambdas and would each re-tokenize if inlined
    val perDoc = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol) +: size(col("__toks")).as("__dl") +: tfCols: _*)
    val statAggs = count(lit(1)).cast("double").as("__n") +:
      avg(col("__dl")).as("__avgdl") +:
      qts.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double").as(s"__df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    scoredTopK(perDoc.crossJoin(broadcast(stats)), idCol, qts.size, k, k1, b)
  }

  private def normalizedTerms(terms: Seq[String]): Seq[String] = {
    val qts = terms.map(_.toLowerCase)
    require(qts.nonEmpty && qts.distinct.size == qts.size,
      s"query terms must be non-empty and distinct (lowercased), got $terms")
    qts
  }

  /** Shared scoring tail for the scan and index paths: expects one row per
    * candidate doc with `__tf0..__tfN-1`, `__dl`, and the broadcast stats
    * columns `__n`, `__avgdl`, `__df0..__dfN-1` already attached. ONE
    * expression tree for both paths, so their doubles are bit-identical
    * (same op order) and `bm25FromIndex` equals `bm25TopK` exactly.
    * Ordering runs on the UNROUNDED score (rounding only for display):
    * ordering on a rounded value can disagree with the SQL oracle on
    * boundary values where Spark's shortest-decimal HALF_UP round and
    * DuckDB's binary-value round differ.
    */
  private def scoredTopK(candidates: DataFrame, idCol: String, nTerms: Int,
      k: Int, k1: Double, b: Double): DataFrame = {
    val score = (0 until nTerms).map { i =>
      val tf = col(s"__tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / col("__avgdl")))
    }.reduce(_ + _)
    val nHits = (0 until nTerms).map(i => when(col(s"__tf$i") > 0, 1).otherwise(0)).reduce(_ + _)
    candidates
      .where((0 until nTerms).map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .select(col(idCol), nHits.cast("long").as("n_hits"), score.as("__raw"))
      .orderBy(col("__raw").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_hits"), round(col("__raw"), 4).as("score"))
  }

  /** Build the persisted BM25 index the single-shot path's scaladoc names
    * as the repeated-query shape: a postings table (term, id, tf, dl)
    * written `bucketBy(term)` so a query's term lookup prunes to its
    * buckets instead of scanning the corpus, plus a one-row corpus-stats
    * table (n, avgdl) computed over ALL docs (including token-less ones —
    * the same population the scan path averages).
    *
    * Scale: the postings explode is the classic inverted-index build —
    * one shuffle of (term, id) pairs with map-side partial counts; dl is
    * denormalized into the postings row (16 B) so the query path needs NO
    * join back to a doc spine. Tables land at `basePath` as external
    * bucketed Spark tables (overwrite-idempotent).
    */
  def buildBm25Index(df: DataFrame, idCol: String, textCol: String,
      name: String, basePath: String, buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS ${name}_postings")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_stats")
    // external tables: dropping the catalog entry leaves the files —
    // clear them too, or a rebuild would resurrect the old postings
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(s"$basePath/${name}_postings", s"$basePath/${name}_stats").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      if (fs.exists(hp)) { fs.delete(hp, true); () }
    }
    writeBm25Delta(df, idCol, textCol, name, basePath, buckets)
  }

  /** Incremental maintenance: index ONLY the new documents and append.
    * Postings append into the same bucket layout (Spark validates the
    * bucket spec matches); corpus stats are stored as SUMMABLE totals —
    * one (n, sum_dl) row per ingest — so the probe's aggregation over
    * the stats rows yields exactly the whole-corpus n/avgdl (dl sums are
    * integer-exact in double far beyond any real corpus, so the division
    * reproduces `avg(dl)` bit-for-bit and the by-construction equality
    * with [[bm25TopK]] survives any append history). Documents must be
    * NEW ids — re-ingesting an id would double-count its postings, same
    * contract as any append-only index.
    */
  def appendToBm25Index(df: DataFrame, idCol: String, textCol: String,
      name: String, basePath: String, buckets: Int = 32): Unit =
    writeBm25Delta(df, idCol, textCol, name, basePath, buckets)

  private def writeBm25Delta(df: DataFrame, idCol: String, textCol: String,
      name: String, basePath: String, buckets: Int): Unit = {
    val staged = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"), size(col("__toks")).as("dl"))
    // r12 (guide §2.4): per-doc term frequencies are computed IN-ROW by
    // the termCounts kernel instead of explode + groupBy(term, id, dl) —
    // identical (term, id, dl, tf) rows (a doc's tokens never span rows,
    // so the aggregation was per-row anyway) without shuffling the
    // corpus-sized exploded frame; the bucketed write needs no
    // particular incoming partitioning (each task hashes rows into its
    // bucket files)
    val postings = staged
      .select(col("id"), col("dl"),
        explode(graft.functions.HashFunctions.termCounts(col("__toks"))).as("tc"))
      .select(col("tc.term").as("term"), col("id"), col("dl"),
        col("tc.tf").as("tf"))
    postings.write.mode("append")
      .option("path", s"$basePath/${name}_postings")
      .bucketBy(buckets, "term")
      .saveAsTable(s"${name}_postings")
    val stats = staged.agg(count(lit(1)).as("n"),
      sum(col("dl").cast("long")).as("sum_dl"))
    stats.write.mode("append")
      .option("path", s"$basePath/${name}_stats")
      .saveAsTable(s"${name}_stats")
  }

  /** BM25 top-k from the persisted index: reads ONLY the postings buckets
    * holding the query terms (bucket pruning on the `term` filter — the
    * plan shows SelectedBucketsCount, asserted in PlanQualitySpec) plus
    * the one-row stats table; the corpus is never scanned. Per-term df
    * comes from the pruned postings themselves (one row per (term, doc)).
    * Equals [[bm25TopK]] on the indexed corpus by construction — same
    * population, same stats, same shared score expression.
    *
    * SESSION-WIDE side effect (part of the contract): pins
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` and
    * does NOT restore it — restoring before the returned (lazy) frame
    * executes would re-enable the rule and defeat the bucket pruning
    * this index exists for. The flag only affects bucketed-TABLE reads;
    * sessions that also read their own bucketed tables lose the
    * auto-disable optimization (never correctness) and may re-enable it
    * after collecting BM25 results.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qts = normalizedTerms(terms)
    // Spark 4's DisableUnnecessaryBucketedScan drops the bucketed scan
    // when no operator needs the bucket distribution — INCLUDING scans
    // whose term filter would prune buckets (verified on 4.1.2: the same
    // probe reads all buckets with the rule on, SelectedBucketsCount 1/N
    // with it off). Bucket pruning is the entire point of this index, so
    // pin auto-bucketed-scan off; it only affects bucketed-table reads,
    // and this engine's only bucketed tables are these indexes.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val postings = spark.table(s"${name}_postings")
      .where(col("term").isin(qts: _*))
    // pivot the hit postings to one row per doc with __tf0..__tfN-1;
    // docs absent from every query term's postings score 0 in the scan
    // path and are correctly absent here (the WHERE in scoredTopK)
    val tfAggs = qts.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("tf"))), lit(0)).as(s"__tf$i")
    }
    val perDoc = postings.groupBy(col("id"), col("dl").as("__dl"))
      .agg(tfAggs.head, tfAggs.tail: _*)
    // per-term document frequencies: one count over the SAME pruned
    // postings (each (term, doc) appears exactly once)
    val dfAggs = qts.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1).otherwise(0)).cast("double").as(s"__df$i")
    }
    val dfs = postings.agg(dfAggs.head, dfAggs.tail: _*)
    // whole-corpus stats from the summable per-ingest rows: integer dl
    // sums are exact in double, so sum_dl/n == avg(dl) bit-for-bit and
    // the bm25TopK equality holds across any append history
    val corpus = spark.table(s"${name}_stats")
      .agg(sum(col("n")).as("__nl"), sum(col("sum_dl")).as("__sl"))
      .select(col("__nl").cast("double").as("__n"),
        (col("__sl").cast("double") / col("__nl").cast("double")).as("__avgdl"))
    scoredTopK(
      perDoc.crossJoin(broadcast(dfs)).crossJoin(broadcast(corpus)),
      "id", qts.size, k, k1, b)
  }

  /** Bigram-LM quality scoring — the CCNet/Wenzek-et-al signal: train an
    * add-α-smoothed bigram language model on a reference corpus, score
    * each document by the mean negative log-probability of its token
    * bigrams (low = fluent/in-domain, high = noise/out-of-domain). The
    * standard perplexity-based quality filter for pretraining data,
    * done relationally:
    *
    *  - TRAIN: one pass over the reference corpus → bigram counts
    *    (groupBy (w1, w2), map-side partial) + unigram counts + vocab
    *    size V (one tiny broadcast row).
    *  - SCORE: per-doc positional bigrams joined against the count
    *    tables (the LM is a TABLE, so scoring a 100 TB corpus is a
    *    shuffle join on the bigram key, not a model broadcast);
    *    `logp(w2|w1) = ln((c12 + α) / (c1 + α·V))`, unseen pairs get
    *    the smoothed floor.
    *  - The per-doc sum folds logps in POSITION order over a per-doc
    *    collected array (bounded by doc length) — a fixed FP addition
    *    order that a SQL oracle replays exactly; a plain SUM would be
    *    partitioning-dependent in the last ulp.
    *
    * Join keys are the token strings (oracle-identical); at 100 TB hash
    * (w1,w2) to a 64-bit key for the shuffle — same negligible-collision
    * contract as [[graft.operators.Dedup.spanDedup]].
    */
  def bigramLmScores(reference: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, "alpha must be positive (unseen bigrams need mass)")
    def bigrams(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.select(extra :+ tokens(col(textCol)).as("__toks"): _*)
        .filter(size(col("__toks")) >= 2)
        .select(extra :+ posexplode(
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => struct(element_at(col("__toks"), i).as("w1"),
              element_at(col("__toks"), i + 1).as("w2"))))
          .as(Seq("pos", "bg")): _*)
        .select(extra ++ Seq(col("pos"), col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)
    val refBigrams = bigrams(reference, Nil)
    val c12 = refBigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__c12"))
    val c1 = reference.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
    val vocab = reference.select(explode(tokens(col(textCol))).as("w"))
      .agg(count_distinct(col("w")).cast("double").as("__v"))
    val scored = bigrams(docs, Seq(col(idCol)))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__logp", log(
        (coalesce(col("__c12"), lit(0L)).cast("double") + lit(alpha)) /
          (coalesce(col("__c1"), lit(0L)).cast("double") + lit(alpha) * col("__v"))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("__logp")))),
            x => x.getField("__logp")),
          lit(0.0), (acc, x) => acc + x).as("__sum"))
      // round(4) for display: the JVM's Math.log INTRINSIC differs from
      // libm ln by 1 ulp on ~1% of inputs (measured: 5 of 500 docs at
      // sf0.01), so the raw double cannot be cross-engine exact the way
      // this file's other scores are; quantizing both sides to 4
      // decimals absorbs ulp-level deltas (boundary risk ~1e-11/value)
      .select(col(idCol), col("n_bigrams"),
        round(-col("__sum") / col("n_bigrams").cast("double"), 4).as("avg_neg_logp"))
  }

  /** Substring search through a TRIGRAM POSTINGS index (the code-search
    * architecture: Cox's "Regular Expression Matching with a Trigram
    * Index"): candidate docs must contain EVERY trigram of the pattern
    * (postings intersection = a group-count equi-join, no corpus scan),
    * then an exact `contains` rerank kills false positives (trigrams
    * present but non-contiguous). Patterns shorter than 3 chars fall
    * back to the scan the index cannot help with.
    *
    * Scale shape: the postings build is one (doc, trigram) explode with
    * DISTINCT partial-agg; a query touches only the pattern's trigram
    * posting lists (bucket-prunable if persisted bucketed-by-trigram,
    * the q112 BM25 layout); the intersection is a count filter, and
    * only candidate payloads are fetched for the rerank.
    */
  def trigramSearch(df: DataFrame, idCol: String, textCol: String,
      pattern: String): DataFrame = {
    require(pattern.length >= 3, "trigram index needs patterns of length >= 3")
    val grams = pattern.toLowerCase.sliding(3).toSeq.distinct
    // stage the lowered text: charNgrams re-evaluates its arg per gram
    // (interpreted lambda — the O(n²) trap its scaladoc pins)
    val postings = df
      .select(col(idCol), lower(col(textCol)).as("__lo"))
      .select(col(idCol),
        explode(array_distinct(
          graft.functions.TextFunctions.charNgrams(col("__lo"), 3))).as("g"))
      .filter(col("g").isin(grams: _*))
    val candidates = postings.groupBy(col(idCol))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.size)
    df.join(candidates, Seq(idCol), "left_semi")
      .filter(lower(col(textCol)).contains(pattern.toLowerCase))
      .select(col(idCol))
  }

  /** Zipf's-law fit over the corpus frequency spectrum: least-squares
    * slope/intercept of ln(freq) vs ln(rank) for the top `topN` terms —
    * the standard corpus-health diagnostic (natural language ≈ −1 slope;
    * templated/spammy corpora bend the curve).
    *
    * Scale shape: token explode → (term, count) partial agg; top-N by
    * (count DESC, term) is TakeOrderedAndProject (per-partition heaps,
    * no global sort); the regression runs on the ≤ topN-row frame via
    * rank-ordered folds (fixed FP order, oracle-replayable) and rounds
    * 4dp (ln ulp).
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    val counts = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(topN)
    val ranked = counts.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("term"))))
      .select(col("r"), log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    def foldOrdered(value: Column): Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("r"), value.as("v")))),
          s => s.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val sums = ranked.agg(
      count(lit(1)).as("n_terms"),
      foldOrdered(col("x")).as("__sx"), foldOrdered(col("y")).as("__sy"),
      foldOrdered(col("x") * col("y")).as("__sxy"),
      foldOrdered(col("x") * col("x")).as("__sxx"))
    val n = col("n_terms").cast("double")
    val slope = (n * col("__sxy") - col("__sx") * col("__sy")) /
      (n * col("__sxx") - col("__sx") * col("__sx"))
    sums.select(col("n_terms"),
      round(slope, 4).as("slope"),
      round((col("__sy") - slope * col("__sx")) / n, 4).as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit: V(N) ≈ K·N^β over the corpus read
    * in id order — ln V vs ln N least squares, the companion diagnostic
    * to [[zipfFit]] (natural text: β ≈ 0.4-0.6; a bending curve flags
    * templated or exhausted-vocabulary corpora).
    *
    * V never needs running-distinct state: each term is attributed to
    * its FIRST document (min id per term), so per-doc new-term counts
    * plus a prefix sum reconstruct the exact vocabulary-growth curve.
    * Both cumulative sums are exact integers; ln enters once per point
    * and the OLS sums fold in id order (fixed FP sequence), rounded 4dp
    * (the ln-ulp policy). The prefix window runs over the per-DOC frame
    * (|docs| rows, not |tokens|) — at fleet scale that single-partition
    * scan is the standard two-pass partition-offset prefix sum.
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__tok"))
    val perDoc = tok.groupBy(col("__id")).agg(count(lit(1)).as("__nt"))
    val newTerms = tok.groupBy(col("__tok")).agg(min(col("__id")).as("__id"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__nv"))
    val w = Window.orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = perDoc.join(newTerms, Seq("__id"), "left")
      .select(col("__id"), col("__nt"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
      .withColumn("__N", sum(col("__nt")).over(w))
      .withColumn("__V", sum(col("__nv")).over(w))
      .select(col("__id").as("r"), log(col("__N").cast("double")).as("x"),
        log(col("__V").cast("double")).as("y"))
    def foldOrdered(value: Column): Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("r"), value.as("v")))),
          s => s.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val sums = pts.agg(
      count(lit(1)).as("n_docs"),
      foldOrdered(col("x")).as("__sx"), foldOrdered(col("y")).as("__sy"),
      foldOrdered(col("x") * col("y")).as("__sxy"),
      foldOrdered(col("x") * col("x")).as("__sxx"))
    val n = col("n_docs").cast("double")
    val slope = (n * col("__sxy") - col("__sx") * col("__sy")) /
      (n * col("__sxx") - col("__sx") * col("__sx"))
    sums.select(col("n_docs"),
      round(slope, 4).as("beta"),
      round((col("__sy") - slope * col("__sx")) / n, 4).as("ln_k"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the bigram-LM average negative log-prob
    * ([[bigramLmScores]]), then label head/middle/tail by EXACT terciles
    * of the 4dp score.
    *
    * Scale shape: boundaries are exact order statistics computed on the
    * AGGREGATED (score, count) distribution — the 4dp rounding bounds
    * the distinct-score domain (a few hundred thousand values at any
    * corpus size), so the cumulative window runs over a tiny frame, and
    * the corpus itself is never globally sorted. Docs bucket by
    * comparing against the two broadcast cut points. Tie semantics:
    * every doc with a boundary-equal score lands in the earlier bucket
    * (deterministic, oracle-replayable).
    */
  def ccnetBuckets(reference: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val scored = bigramLmScores(reference, docs, idCol, textCol)
    val dist = scored.groupBy(col("avg_neg_logp")).agg(count(lit(1)).as("__c"))
    val cum = dist.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("avg_neg_logp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = dist.agg(sum(col("__c")).as("__n"))
    val bounds = cum.crossJoin(broadcast(total))
      .agg(
        min(when(col("__cum") * 3 >= col("__n"), col("avg_neg_logp")))
          .as("__t1"),
        min(when(col("__cum") * 3 >= col("__n") * 2, col("avg_neg_logp")))
          .as("__t2"))
    scored.crossJoin(broadcast(bounds))
      .select(col(idCol), col("n_bigrams"), col("avg_neg_logp"),
        when(col("avg_neg_logp") <= col("__t1"), lit("head"))
          .when(col("avg_neg_logp") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Per-document TF-IDF top terms — the classic keyword-extraction /
    * sparse-feature op: tf = in-doc count, idf = ln(N / df), top `k`
    * terms per doc by tf·idf. Shapes: one token explode → (doc, term)
    * partial-agg'd counts; the df table derives from the SAME relation
    * (one extra groupBy, partial-agg'd); N broadcasts as one row; top-k
    * is a per-doc window. Ranking runs on the 4dp-ROUNDED score: exact
    * mathematical ties with different FP paths exist (tf·ln(n/df) — e.g.
    * 2·ln(10) vs 1·ln(100)) and libm-vs-JVM ln differs by 1 ulp on such
    * pairs, so the raw double is not a cross-engine total order; the
    * rounded score is, with ties broken by term.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val staged = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val n = staged.agg(count(lit(1)).cast("double").as("__n"))
    val termDoc = staged.select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = termDoc.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = termDoc.join(dfT, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") * log(col("__n") / col("__df")), 4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** Corpus collocations by pointwise mutual information over ADJACENT
    * token pairs (the word2vec-era association statistic):
    * `pmi = ln( p(w1,w2) / (p(w1)·p(w2)) ) = ln( c12·U² / (T·c1·c2) )`
    * with U = total tokens, T = total bigrams; pairs below `minCount`
    * are dropped (sparse-pair PMI is noise — standard practice). All
    * counts are exact integers and the products stay exact in double
    * far beyond these corpus sizes (document-level guard: U²·c12 must
    * stay < 2^53 — shard or subtract logs past ~10^8 tokens). Output is
    * a SET (no ranking), so the only FP surface is the 4dp-rounded ln.
    */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val bg = df.select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("__toks")) - 1),
          i => struct(element_at(col("__toks"), i).as("w1"),
            element_at(col("__toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = df.select(explode(tokens(col(textCol))).as("w"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val c1 = uni.groupBy(col("w").as("w1")).agg(count(lit(1)).as("__c1"))
    val c2 = uni.groupBy(col("w").as("w2")).agg(count(lit(1)).as("__c2"))
    val totals = bg.agg(count(lit(1)).cast("double").as("__t"))
      .crossJoin(uni.agg(count(lit(1)).cast("double").as("__u")))
    c12.join(c1, Seq("w1")).join(c2, Seq("w2")).crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        // + 0.0 canonicalizes IEEE negative zero (round can yield -0.0
        // from a tiny negative pmi, and -0.0 vs 0.0 renders differently)
        (round(log(
          (col("c12").cast("double") * col("__u") * col("__u")) /
            (col("__t") * col("__c1").cast("double") * col("__c2").cast("double"))), 4)
          + lit(0.0)).as("pmi"))
  }

  /** BPE-style PRE-tokenizer pattern (the split that runs before merges in
    * GPT-2-family tokenizers), simplified to the Java-regex/RE2-shared
    * subset: letter runs, digit runs, non-space punctuation runs. Token
    * COUNTING with this split approximates subword token counts far
    * better than whitespace words on code/numeric text.
    */
  val preTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Per-doc pre-token statistics: total, distinct, and numeric-run
    * counts. The extract-all is staged once per row; all counts derive
    * from the one array.
    */
  def preTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        regexp_extract_all(col(textCol), lit(preTokenPattern), lit(0)).as("__pre"))
      .select(col(idCol),
        size(col("__pre")).as("n_pretokens"),
        size(array_distinct(col("__pre"))).as("n_distinct_pretokens"),
        size(filter(col("__pre"), t => t.rlike("^[0-9]+$"))).as("n_numeric_runs"))

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * token n-grams that appear in NO other document — the
    * memorization-risk / templatedness signal (a doc whose grams all
    * recur elsewhere is boilerplate or a near-copy; spanDedup removes
    * the copies, this SCORES them first). Docs shorter than `n` tokens
    * score 1.0 (vacuously novel).
    *
    * Scale shape (the q128 doc-frequency class): one gram explode
    * carrying only (id, 8-byte hash), a map-side-partial df count, one
    * hash join back — payload text never shuffles. Gram identity is the
    * xxhash64 of the joined token slice; distinct-gram semantics match
    * the text-level oracle absent a 64-bit collision (none at these
    * corpus sizes — the q111 argument).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val spine = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    val grams = spine.filter(size(col("__toks")) >= n)
      .select(col("id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
          i => array_join(slice(col("__toks"), i, lit(n)), " ")))).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    val per = grams.join(dfreq, "gh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    spine.select(col("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("novelty", when(col("n_grams") > 0,
        lit(1.0) - col("n_shared").cast("double") / col("n_grams"))
        .otherwise(lit(1.0)))
  }

  /** Lexical-diversity audit per group: type-token ratio, hapax share
    * and Yule's K (Yule 1944) — the length-robust vocabulary-richness
    * characteristic K = 10⁴·(Σ_t c(t)² − N)/N² over the token
    * frequency spectrum. K ≈ 0 means every token is fresh (all hapax);
    * high K means a few tokens dominate — THE templated/boilerplate
    * corpus tell that n-gram distinct ratios (distinctN) see only at
    * fixed n. All spectrum moments are exact integers; the three final
    * divides run in double (N² as a double PRODUCT, not an int64
    * multiply — N ≥ 2³² would overflow the integer square at corpus
    * scale).
    *
    * Scale shape: one explode to (grp, token-hash) narrow rows with
    * map-side partial counts (the distinctN collision stance: spectrum
    * over 8-byte xxh64 token keys), then one k-row rollup. Groups
    * whose documents contain no tokens emit no row (no 0/0 lanes).
    */
  def lexicalDiversity(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val tf = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), xxhash64(col("__tok")).as("__th"))
      .agg(count(lit(1)).as("__c"))
    tf.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("__c") * col("__c")).as("__s2"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 4).as("ttr"),
        round(col("n_hapax").cast("double") /
          col("n_types").cast("double"), 4).as("hapax_ratio"),
        round(lit(10000.0) *
          (col("__s2") - col("n_tokens")).cast("double") /
          (col("n_tokens").cast("double") *
            col("n_tokens").cast("double")), 4).as("yule_k"))
  }

  /** Distinct-n diversity (Li et al. 2016's dialogue-diversity metric,
    * the Texygen convention): per group, distinct word n-grams over
    * total n-gram occurrences for each n in `ns` — THE repetitiveness
    * audit for synthetic or templated corpora (low distinct-2 means the
    * corpus says the same things the same way; the self-BLEU
    * complement). Complements [[ngramNovelty]] (cross-DOC recurrence of
    * long grams) with within-GROUP short-gram diversity.
    *
    * Scale shape: one tagged explode carrying (grp, n, 8-byte gram
    * hash) — the [[ngramNovelty]] collision stance — map-side partial
    * aggs, one shuffle on (grp, n); the distinct count is exact.
    */
  def distinctN(df: DataFrame, textCol: String, groupCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
      s"ns must be within [1,8], got $ns")
    val spine = df.select(col(groupCol).as("grp"),
      tokens(col(textCol)).as("__toks"))
    val grams = spine
      .select(col("grp"), explode(array(ns.map { n =>
        struct(lit(n).as("n"),
          when(size(col("__toks")) >= n,
            transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
              i => xxhash64(array_join(slice(col("__toks"), i, lit(n)), " "))))
            .otherwise(array().cast("array<bigint>")).as("ghs"))
      }: _*)).as("t"))
      .select(col("grp"), col("t.n").as("n"), explode(col("t.ghs")).as("gh"))
    grams.groupBy(col("grp"), col("n"))
      .agg(count(lit(1)).as("total_grams"),
        count_distinct(col("gh")).as("distinct_grams"))
      .withColumn("distinct_ratio",
        round(col("distinct_grams").cast("double") /
          col("total_grams").cast("double"), 4))
  }

  /** BPE merge induction (Sennrich et al. 2016) — tokenizer TRAINING:
    * start from characters, repeatedly merge the most frequent adjacent
    * symbol pair (weighted by word frequency), `numMerges` times.
    * Returns the learned merge table (step, lhs, rhs, freq) — the
    * artifact a BPE tokenizer ships.
    *
    * Scale shape: word frequencies aggregate ONCE (the corpus is never
    * re-scanned); each iteration runs on the (word, count, symbols)
    * frame — vocabulary-sized, orders of magnitude smaller than the
    * corpus — one [[Stage.iterate]] round per merge, so plans stay
    * flat and a superseded round is freed at once. The argmax pair is
    * a 1-row collect (bounded, like the q108 sketch row); ties break
    * (count DESC, lhs, rhs) — binary collation both engines. The merge
    * itself is a left-to-right non-overlapping ordered fold (state =
    * the rebuilt symbol string): "aaa" + (a,a) → ["aa","a"], the
    * reference BPE semantics. Symbols never contain spaces (tokens are
    * whitespace-split), so ' ' is a safe separator.
    */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    Stage.drain(bpeWords(df, textCol, numMerges), numMerges)(bpeRound(merges))
    val spark = df.sparkSession
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "freq")
  }

  /** Tokenizer APPLICATION census — the serving-side complement of
    * [[bpeMerges]]: train `numMerges` merges, then report the resulting
    * subword vocabulary with exact corpus statistics per token —
    * total occurrences (weighted by word frequency) and the number of
    * distinct words containing the token. This is the table a tokenizer
    * build signs off on (vocabulary coverage / fertility audit).
    *
    * Scale shape: inherits [[bpeMerges]]'s — the corpus aggregates to
    * word frequencies once, every merge round and the final explode run
    * on the vocabulary-sized frame.
    */
  def bpeEncodeCensus(df: DataFrame, textCol: String, numMerges: Int): DataFrame =
    bpeTrain(df, textCol, numMerges)
      .select(col("w"), col("c"), explode(col("s")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("freq"),
        count_distinct(col("w")).as("n_words"))

  /** Corpus-scale tokenizer APPLICATION — the step between curation and
    * [[TrainingData.packSequences]] in a real pipeline: train `numMerges`
    * merges ([[bpeMerges]]), then encode EVERY DOCUMENT to its token-id
    * sequence plus fertility (tokens/word) stats. Token ids are the
    * rank of the subword string in the final vocabulary (sorted,
    * 0-based) — the deterministic id assignment a shipped tokenizer
    * freezes; the id sequence is emitted space-joined (`token_ids`) so
    * the row stays scalar.
    *
    * Scale shape: the per-word BPE fold runs ONCE per distinct word (on
    * the vocabulary-sized training frame, never per occurrence) — the
    * corpus pass is a posexplode + BROADCAST join against that
    * word→symbols table, then a broadcast vocab-id join; the corpus
    * text never re-folds merges and never shuffles (only (id, pos,
    * 4-byte tid) rows reach the per-doc aggregate). Words outside the
    * training vocabulary (never the case when encoding the training
    * corpus itself) fall back to per-character symbols; characters
    * still unknown map to id -1 (the UNK convention).
    */
  def bpeEncodeCorpus(df: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame =
    bpeEncodeCorpusWithVocab(df, idCol, textCol, numMerges)._1

  /** [[bpeEncodeCorpus]] plus the frozen (token, tid) vocabulary table
    * it encoded with — the decode side of the tokenizer contract
    * ([[bpeRoundTrip]]) needs the same id table, not a re-derivation.
    */
  private def bpeEncodeCorpusWithVocab(df: DataFrame, idCol: String,
      textCol: String, numMerges: Int): (DataFrame, DataFrame) = {
    val words = bpeTrain(df, textCol, numMerges)
    val wordSyms = words.select(col("w"), col("s"))
    // vocab-sized window (the tokenizer's frozen id table) — single
    // partition is intentional and bounded, like the bpeTrain argmax
    val vocab = wordSyms.select(explode(col("s")).as("token")).distinct()
      .withColumn("tid",
        (row_number().over(Window.orderBy(col("token"))) - 1).cast("long"))
    val spine = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    val docWords = spine
      .select(col("id"), posexplode(col("__toks")).as(Seq("wpos", "w")))
    val withSyms = docWords
      .join(broadcast(wordSyms), Seq("w"), "left")
      .select(col("id"), col("wpos"),
        // unseen-word fallback: character symbols (byte-fallback analog)
        coalesce(col("s"),
          transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1)))).as("s"))
    val toks = withSyms
      .select(col("id"), col("wpos"), posexplode(col("s")).as(Seq("j", "sym")))
      .join(broadcast(vocab), col("sym") === vocab("token"), "left")
      .select(col("id"), col("wpos"), col("j"),
        coalesce(col("tid"), lit(-1L)).as("tid"))
    val per = toks.groupBy(col("id"))
      .agg(count_distinct(col("wpos")).as("n_words"),
        count(lit(1)).as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("wpos"), col("j"), col("tid")))),
          s => s.getField("tid").cast("string")), " ").as("token_ids"))
    val enc = spine.select(col("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(coalesce(col("n_words"), lit(0L)) > 0,
          round(col("n_tokens").cast("double") /
            col("n_words").cast("double"), 4)).as("fertility"),
        coalesce(col("token_ids"), lit("")).as("token_ids"))
    (enc, vocab)
  }

  /** Tokenizer ROUND-TRIP contract — the invariant a real pipeline pins
    * before training on encoded data: decode every document's token-id
    * sequence back through the frozen id→subword table and compare the
    * subword concatenation against the document's own token stream
    * (word boundaries drop out of both sides, so concat equality is
    * exactly segmentation-reassembly correctness). Any UNK id (-1) or
    * id-table defect surfaces as `roundtrip_ok = false`; encoding the
    * training corpus itself must yield zero mismatches.
    *
    * Scale: decode is a posexplode of the 4-byte id stream + a
    * broadcast vocab join + one per-doc ordered fold — the same
    * narrow-rows-only shape as the encode pass; nothing shuffles text
    * except the per-doc reassembly of (pos, subword) rows.
    */
  def bpeRoundTrip(df: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val (enc, vocab) = bpeEncodeCorpusWithVocab(df, idCol, textCol, numMerges)
    val dec = enc
      .filter(length(col("token_ids")) > 0)
      .select(col("id"),
        posexplode(split(col("token_ids"), " ")).as(Seq("pos", "tid_s")))
      .select(col("id"), col("pos"), col("tid_s").cast("long").as("tid"))
      .join(broadcast(vocab.select(col("tid"), col("token"))), Seq("tid"), "left")
      .groupBy(col("id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("token")))),
        s => s.getField("token")), "").as("decoded"))
    val ref = df.select(col(idCol).as("id"),
      coalesce(array_join(tokens(col(textCol)), ""), lit("")).as("__ref"))
    ref.join(enc.select(col("id"), col("n_tokens")), Seq("id"))
      .join(dec, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        length(col("__ref")).cast("long").as("n_chars"),
        (coalesce(col("decoded"), lit("")) === col("__ref")).as("roundtrip_ok"))
  }

  /** Tokenizer-fertility league table: [[bpeEncodeCorpus]] rolled up
    * per `groupCol` (typically language) — docs, words, tokens, the
    * aggregate fertility Σtokens/Σwords (one divide of exact sums, 4dp)
    * and the empty-doc count. THE audit that decides whether a
    * tokenizer under-serves a language (fertility 2× the corpus mean =
    * that language pays twice the context budget per word) before
    * mixture weights are finalized.
    */
  def bpeFertilityByGroup(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, numMerges: Int): DataFrame = {
    val enc = bpeEncodeCorpus(df, idCol, textCol, numMerges)
    val grp = df.select(col(idCol).as("id"), col(groupCol).as("grp"))
    enc.join(grp, Seq("id"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        when(sum(col("n_words")) > 0,
          round(sum(col("n_tokens")).cast("double") /
            sum(col("n_words")).cast("double"), 4)).as("fertility"),
        sum(when(col("n_tokens") === 0, 1L).otherwise(0L)).as("n_empty"))
  }

  /** The word table after `numMerges` [[bpeMerges]] rounds (fewer once
    * no word has two symbols left): `(w, c, s)` with `s` the word's
    * symbols; the last round stays staged for the caller's lazy result.
    */
  private def bpeTrain(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame =
    Stage.iterate(bpeWords(df, textCol, numMerges), numMerges)(
      bpeRound(ArrayBuffer.empty))._1

  /** BPE round 0, checkpointed: each distinct word `w` with its corpus
    * count `c` and its characters as symbols `s`.
    */
  private def bpeWords(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 64,
      s"numMerges must be in [1, 64], got $numMerges")
    df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("s"))
      .transform(Stage.scoped(eager = true))
  }

  /** One BPE round: the most frequent adjacent symbol pair of `words`
    * (appended to `merges` as (step, lhs, rhs, freq)) merged in every
    * word; None once no word has two symbols.
    */
  private def bpeRound(merges: ArrayBuffer[(Int, String, String, Long)])(
      words: DataFrame): Option[DataFrame] = {
    val top = words.filter(size(col("s")) >= 2)
      .select(col("c"), explode(
        transform(sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("l"),
            element_at(col("s"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(1).collect()
    top.headOption.map { t =>
      val (l, r) = (t.getString(0), t.getString(1))
      merges += ((merges.size + 1, l, r, t.getLong(2)))
      val merged = aggregate(col("s"), lit(""), (acc, x) => {
        val last = regexp_extract(acc, "[^ ]+$", 0)
        when(acc === "", x)
          .when(x === lit(r) && last === lit(l),
            concat(acc.substr(lit(1), length(acc) - length(last)),
              lit(l + r)))
          .otherwise(concat(acc, lit(" "), x))
      })
      words.select(col("w"), col("c"), split(merged, " ").as("s"))
    }
  }

  /** Hashed-bag-of-words LINEAR-MODEL scoring — the serving shape of a
    * fastText-style quality classifier (the FineWeb-edu / CCNet
    * model-based filtering step): tokens hash into `buckets` feature
    * slots, a broadcast `(bucket, weight)` table supplies the trained
    * weights, and the document's score is
    * `sigmoid(bias + Σ_tokens w[bucket(tok)])` with `label = score ≥ 0.5`.
    *
    * Training happens OFFLINE (any logistic-regression fit produces the
    * weights table); this operator is the corpus-scale pass, and its plan
    * is the one that must survive 100 TB: explode → hash → BROADCAST
    * weight join (the model is fixed-size by construction — `buckets`
    * rows — never a shuffle side) → per-doc partial-aggregating sum.
    *
    * FP determinism: weights are cast to DECIMAL(12,6) and summed
    * EXACTLY (order-independent), so the logit is bit-identical on any
    * partitioning and in the DuckDB oracle; only the final sigmoid
    * touches libm (`exp` — 1 ulp cross-engine), absorbed by 4dp display
    * rounding (q136). `label` cannot flip on that ulp: logits are
    * multiples of 1e-6, so a logit is either exactly 0 (score exactly
    * 0.5 both sides) or ≥ 1e-6 away from the decision boundary.
    */
  def scoreLinearModel(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int, bias: Double = 0.0): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val w = broadcast(weights.select(col("bucket"),
      col("weight").cast("decimal(12,6)").as("__w")))
    val scored = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .withColumn("bucket", pmod(fnv64(col("__tok")), lit(buckets.toLong)))
      .join(w, Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("__w")), lit(0).cast("decimal(12,6)")).as("__sum"))
    // LEFT join back to the doc spine (the dsirWeights/entropyScores
    // convention): a null/empty-text doc explodes to no token rows and
    // would otherwise silently VANISH from the scores — it must score
    // as the empty bag, sigmoid(bias), so keep-filters see it
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (lit(bias) + coalesce(col("__sum"), lit(0).cast("decimal(12,6)"))
          .cast("double")).as("logit"))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
      .withColumn("label", col("score") >= 0.5)
      .select(col(idCol), col("n_tokens"), col("logit"), col("score"), col("label"))
  }

  /** ExactSubstr-style duplicate-span removal census (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §3):
    * every 8-token span that occurs more than once corpus-wide is
    * removed from every document EXCEPT the one holding the span's
    * first occurrence (min (doc_id, position) — a total order), and a
    * token is removed when ANY removed span covers it. Reports, per
    * document, how many tokens survive — the accounting a span-dedup
    * pass signs off on before rewriting the corpus ([[dupNgramScores]]
    * scores; q184 censuses the corpus; this one commits to a removal
    * policy).
    *
    * Spans are keyed by their token STRING here (exact, trivially
    * SQL-replayable); at 100 TB key on a 64-bit span hash instead so the
    * shuffle carries 8-byte keys (the q35 identical-absent-collision
    * stance). Shape: position explode (×n_tokens), per-span window on
    * the span key for (first, multiplicity), ×8 coverage explode of
    * duplicate occurrences only, distinct + per-doc count — every stage
    * linear in corpus tokens, no pair space.
    */
  def exactSubstrCensus(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2 && n <= 32, s"span length in [2,32], got $n")
    val tk = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    val occ = tk.filter(size(col("__toks")) >= n)
      .select(col("id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("pos"))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("__toks"), col("pos"), lit(n))).as("__g"))
    val w = Window.partitionBy(col("__g"))
    val wOrd = w.orderBy(col("id"), col("pos"))
    val dup = occ
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__c", count(lit(1)).over(w))
      .filter(col("__c") > 1 && col("__rn") > 1)
    val covered = dup
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + (n - 1))).as("tp"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_removed"))
    tk.select(col("id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L)))
          .as("n_kept"),
        when(col("n_tokens") > 0, round(
          coalesce(col("n_removed"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 4)).otherwise(lit(0.0))
          .as("removed_frac"))
  }

  /** Tokenizer-coverage / OOV audit: build the top-`vocabSize` token
    * vocabulary corpus-wide ((count DESC, token) — the q150 total
    * order), then report, per group, how many token OCCURRENCES and
    * distinct token TYPES fall outside it — the coverage check run
    * before committing a vocabulary, surfacing the sources a tokenizer
    * will shred into fallback bytes.
    *
    * Shape: one token explode feeds both the vocabulary (aggregated,
    * top-k via a single ordered limit — TakeOrderedAndProject, no full
    * sort) and the per-(group, token) count frame; the vocabulary joins
    * back BROADCAST. Exact integer counts, single-divide 4dp rate.
    */
  def oovAudit(df: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__iv"))
    toks.groupBy(col("g"), col("tok")).agg(count(lit(1)).as("__c"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("g"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__iv").isNull, col("__c"))), lit(0L))
          .as("n_oov_tokens"),
        sum(when(col("__iv").isNull, 1L).otherwise(0L)).as("n_oov_types"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        col("n_oov_tokens"), col("n_oov_types"),
        round(col("n_oov_tokens").cast("double") /
          col("n_tokens").cast("double"), 4).as("oov_rate"))
  }

  /** Pairwise vocabulary Jaccard between groups: each group's DISTINCT
    * token set, intersected via a token equi-join of the AGGREGATED
    * (group, token) frame (never doc-level; the q185 shape with set
    * semantics instead of TF weights) — |A∩B| / (|A|+|B|−|A∩B|), exact
    * integers, single-divide 4dp. Pairs with an empty intersection are
    * omitted (the equi-join cannot see them — and a zero Jaccard row
    * carries no signal).
    */
  def vocabJaccard(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val st = df.select(col(groupCol).as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .distinct()
    val sizes = st.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    val inter = st.select(col("g").as("g1"), col("tok"))
      .join(st.select(col("g").as("g2"), col("tok")), Seq("tok"))
      .filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("g").as("g1"), col("nv").as("__n1"))),
        Seq("g1"))
      .join(broadcast(sizes.select(col("g").as("g2"), col("nv").as("__n2"))),
        Seq("g2"))
      .select(col("g1"), col("g2"), col("__n1").as("n_vocab_1"),
        col("__n2").as("n_vocab_2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("__n1") + col("__n2") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
  }

  /** Flesch reading-ease per document: 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words), with syllables approximated
    * by per-token vowel-group ([aeiouy]+) runs floored at 1 — the
    * standard regex approximation every readability library ships.
    * Sentences count [.!?]+ runs, floored at 1 (unpunctuated text is
    * one sentence).
    *
    * Cross-engine exact: all three inputs are INTEGER counts (regex
    * run counts — Java and RE2 agree on this character-class pattern),
    * summed order-free; the formula is one fixed double op sequence
    * over shared literals, 4dp. One narrow codegen pass, no shuffle.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = df.select(col(idCol).as("id"),
      tokens(col(textCol)).as("__toks"), col(textCol).as("__text"))
    val words = size(col("__toks"))
    val syllables = aggregate(
      transform(col("__toks"),
        t => greatest(lit(1), regexp_count(t, lit("[aeiouy]+")))),
      lit(0L), (acc, v) => acc + v)
    val sentences = greatest(lit(1),
      regexp_count(col("__text"), lit("[.!?]+")))
    staged
      .select(col("id"), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("id").as(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
  }

  /** Exact phrase search without an explode: for each document, the
    * number of positions where `phrase` occurs as consecutive tokens,
    * top-k docs by (occurrences DESC, id). The whole match runs INSIDE
    * the row — a codegen'd filter over the token array's start
    * positions — so the plan is a narrow scan + TakeOrderedAndProject:
    * no postings shuffle, no self-join (contrast q159's trigram-index
    * SUBSTRING search, which must span token boundaries; for whole-
    * token phrases this single-pass form is strictly cheaper).
    *
    * At scale the same predicate runs after a bucketed postings
    * pre-filter (q112's index) to avoid the full scan; the per-row
    * kernel is unchanged. 1-based positions on both engines.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int = 20): DataFrame = {
    require(phrase.length >= 2, "phrase needs at least two tokens")
    val staged = df.select(col(idCol).as("id"),
      tokens(col(textCol)).as("__toks"))
    // r12: codegen'd kernel — same overlapping-start count (and the same
    // "never > 0 for null/short token arrays" outcome under the > 0
    // filter) as the interpreted filter(sequence(...)) HOF program
    val occ = graft.functions.HashFunctions.phraseCount(col("__toks"), phrase)
    staged.select(col("id"), occ.as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("n_occurrences"))
  }

  /** Vocabulary novelty by batch: for each crawl batch (a caller
    * expression — ingestion date, snapshot id, or an id-range proxy),
    * how many distinct tokens appear, how many are FIRST-SEEN in that
    * batch (min-batch ownership), and the novelty rate — the "is this
    * crawl still teaching the model new words?" freshness report
    * (Heaps-law q182's batch-resolution companion). All exact
    * integers + one divide, 4dp.
    */
  def vocabNovelty(df: DataFrame, textCol: String,
      batchExpr: Column): DataFrame = {
    val bt = df.select(batchExpr.as("b"),
        explode(tokens(col(textCol))).as("tok"))
      .distinct()
    val firstSeen = bt.groupBy(col("tok")).agg(min(col("b")).as("fb"))
    bt.join(firstSeen, Seq("tok"))
      .groupBy(col("b").as("batch"))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(when(col("fb") === col("b"), 1L).otherwise(0L))
          .as("n_new_tokens"))
      .select(col("batch"), col("n_distinct_tokens"), col("n_new_tokens"),
        round(col("n_new_tokens").cast("double") /
          col("n_distinct_tokens").cast("double"), 4).as("novelty_rate"))
  }

  /** Skip-gram PMI collocations: unordered token pairs co-occurring
    * within `window` positions (the word2vec-style context window —
    * q126's ADJACENT pairs generalized), PMI = ln(c·T / (c₁·c₂)) from
    * exact integer counts. Pair instances are built IN-ROW (a flatten
    * over (position, offset) — no token explode precedes the count),
    * pairs are canonicalized (least, greatest) so (a,b) ≡ (b,a), and
    * self-pairs are dropped. minCount floors both the pair and the
    * word marginals. Set output (no rank); the 2^53 integer-product
    * guard and the −0.0 canonicalization follow q126.
    */
  def skipgramPmi(df: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val staged = df.select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val pairsArr = flatten(transform(
      sequence(lit(1), (size(col("__toks")) - 1).cast("int")),
      i => filter(
        transform(sequence(lit(1), lit(window)), d =>
          when(i + d <= size(col("__toks")),
            struct(
              least(element_at(col("__toks"), i),
                element_at(col("__toks"), i + d)).as("w1"),
              greatest(element_at(col("__toks"), i),
                element_at(col("__toks"), i + d)).as("w2")))),
        p => p.isNotNull && p.getField("w1") =!= p.getField("w2"))))
    val pairs = staged.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pairCnt = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val marg = pairs.select(explode(array(col("w1"), col("w2"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val total = pairs.agg(count(lit(1)).as("__t"))
    pairCnt
      .join(marg.select(col("w").as("w1"), col("cw").as("__c1")), Seq("w1"))
      .join(marg.select(col("w").as("w2"), col("cw").as("__c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .filter(col("__c1") >= minCount && col("__c2") >= minCount)
      .select(col("w1"), col("w2"), col("c").as("pair_count"),
        (round(log((col("c") * col("__t")).cast("double") /
          (col("__c1") * col("__c2")).cast("double")), 4) + lit(0.0))
          .as("pmi"))
  }

  /** Frequency-of-frequencies table with Good-Turing estimates: for
    * each occurrence count c = 1..`maxC`, the number of token TYPES
    * seen exactly c times (N_c), the Good-Turing discounted count
    * c* = (c+1)·N_{c+1}/N_c, and the corpus-constant unseen-mass
    * estimate p₀ = N₁/N — the classical smoothing/coverage report
    * (Good 1953; the "how much probability belongs to words we have
    * never seen" answer).
    *
    * All counts exact integers from two aggregations (token counts →
    * count-of-counts); c* and p₀ are single divides, 4dp; c* is NULL
    * where N_{c+1} = 0 (the raw estimator's known gap — smoothing
    * variants interpolate, this reports honestly). Reports the `maxC`
    * SMALLEST occurrence counts actually present (a synthetic or
    * heavily-filtered corpus may have no singletons at all — a fixed
    * 1..maxC range would then report nothing).
    */
  def goodTuring(df: DataFrame, textCol: String, maxC: Int = 5): DataFrame = {
    val tokCounts = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val fof = tokCounts.groupBy(col("c"))
      .agg(count(lit(1)).as("n_c"))
    val totals = tokCounts.agg(sum(col("c")).as("__n"))
    val next = fof.select((col("c") - 1).as("c"), col("n_c").as("__n_next"))
    fof.orderBy(col("c")).limit(maxC)
      .join(next, Seq("c"), "left")
      .crossJoin(broadcast(totals))
      .join(broadcast(fof.filter(col("c") === 1)
        .select(col("n_c").as("__n1"))), lit(true), "left")
      .select(col("c"), col("n_c"),
        round((col("c") + 1).cast("double") * col("__n_next").cast("double") /
          col("n_c").cast("double"), 4).as("c_star"),
        col("__n").as("total_tokens"),
        round(coalesce(col("__n1"), lit(0L)).cast("double") /
          col("__n").cast("double"), 4).as("unseen_mass"))
  }

  /** KWIC (keyword-in-context) concordance: every occurrence of `term`
    * with its ±`contextTokens`-token window rendered as one string —
    * the search-result snippet / corpus-linguistics view. Match
    * positions are found INSIDE the row (the q222 kernel); only the
    * bounded match list explodes, never the token array. 1-based
    * positions; output ordered (doc, pos), first `k` rows.
    */
  def kwic(df: DataFrame, idCol: String, textCol: String, term: String,
      contextTokens: Int = 3, k: Int = 50): DataFrame = {
    val staged = df.select(col(idCol).as("id"),
      tokens(col(textCol)).as("__toks"))
    val positions = filter(
      sequence(lit(1), greatest(size(col("__toks")), lit(1)).cast("int")),
      i => element_at(col("__toks"), i) === lit(term))
    val hits = staged
      .filter(size(col("__toks")) >= 1)
      .select(col("id"), col("__toks"), explode(positions).as("pos"))
    val start = greatest(lit(1), col("pos") - contextTokens)
    val len = least(col("pos") + contextTokens,
      size(col("__toks"))) - start + 1
    hits
      .select(col("id").as(idCol), col("pos"),
        concat_ws(" ", slice(col("__toks"), start, len)).as("context"))
      .orderBy(col(idCol), col("pos"))
      .limit(k)
  }

  /** Pairwise Jensen-Shannon divergence between the groups' unigram
    * token distributions — the symmetric, bounded ([0, ln 2]) corpus-
    * drift measure (the q151 KL audit's better-behaved sibling; JS is
    * what mixture-balance papers actually report). For each group pair
    * (g1 < g2): JS = ½Σₓ p(x)·ln(p/m) + ½Σₓ q(x)·ln(q/m), m = (p+q)/2.
    *
    * Exact-count probabilities (BIGINT token counts over exact totals);
    * the Σ over SHARED tokens folds in token-sorted order (the q142
    * entropy stance for the JVM-vs-libm ln ulp, 4dp out), and the
    * one-sided remainders collapse in closed form — a token absent
    * from q has m = p/2, so its term is ½·p·ln 2, and the one-sided
    * mass Σp is computed exactly as (n1 − Σ_shared c1)/n1. ln 2 is the
    * same shortest-repr double constant on both engines.
    *
    * Scale: token-count frames shuffle once on (group, token); the
    * pair join carries only (token, count) rows; the per-pair fold
    * list is bounded by the SHARED vocabulary (Heaps-law-bounded, not
    * corpus-bounded — the q212 stance).
    */
  def jsDivergence(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val ln2 = 0.6931471805599453 // Math.log(2), shortest round-trip repr
    val toks = df.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val cn = counts.join(broadcast(totals), Seq("g"))
    val a = cn.select(col("g").as("g1"), col("tok"), col("c").as("c1"),
      col("n").as("n1"))
    val b = cn.select(col("g").as("g2"), col("tok"), col("c").as("c2"),
      col("n").as("n2"))
    val shared = a.join(b, Seq("tok")).filter(col("g1") < col("g2"))
    val px = col("c1").cast("double") / col("n1").cast("double")
    val qx = col("c2").cast("double") / col("n2").cast("double")
    val m = (px + qx) / lit(2.0)
    val term = lit(0.5) * px * log(px / m) + lit(0.5) * qx * log(qx / m)
    val sharedAgg = shared
      .select(col("g1"), col("g2"), col("tok"), col("c1"), col("c2"),
        term.as("__t"))
      .groupBy(col("g1"), col("g2"))
      .agg(sum(col("c1")).as("__s1"), sum(col("c2")).as("__s2"),
        count(lit(1)).as("__nsh"),
        aggregate(
          transform(array_sort(collect_list(struct(col("tok"), col("__t")))),
            s => s.getField("__t")),
          lit(0.0), (acc, v) => acc + v).as("__shared"))
    // every (g1 < g2) pair reports — a disjoint-vocabulary pair has no
    // shared rows but a well-defined JS of exactly ln 2
    val allPairs = totals.select(col("g").as("g1"), col("n").as("__n1"))
      .crossJoin(totals.select(col("g").as("g2"), col("n").as("__n2")))
      .filter(col("g1") < col("g2"))
    allPairs.join(sharedAgg, Seq("g1", "g2"), "left")
      .select(col("g1"), col("g2"),
        coalesce(col("__nsh"), lit(0L)).as("n_shared_tokens"),
        round(coalesce(col("__shared"), lit(0.0)) +
          lit(0.5) * lit(ln2) *
            (lit(1.0) - coalesce(col("__s1"), lit(0L)).cast("double") /
              col("__n1").cast("double")) +
          lit(0.5) * lit(ln2) *
            (lit(1.0) - coalesce(col("__s2"), lit(0L)).cast("double") /
              col("__n2").cast("double")),
          4).as("js_divergence"))
  }

  /** Per-document cross-entropy under the CORPUS unigram language model
    * — the cheapest perplexity proxy a quality pipeline runs before any
    * neural scorer: CE(d) = −Σ_occ ln(c_t/T) / |d| over d's token
    * occurrences, with c_t the corpus count of token t and T the corpus
    * total. Low CE = the doc speaks in the corpus's common vocabulary;
    * high CE = rare-token soup (OCR noise, codes, lorem) — the same
    * signal family CCNet uses a real LM for.
    *
    * Determinism: per-token ln(c_t/T) rounds to 6dp and sums through
    * int64-backed DECIMAL(18,6) (exact, order-free); the one final
    * divide is double, rounded 4dp. Scale: token explode to (id, hash)
    * narrow rows; corpus counts via partial-agg; ONE shuffle join on
    * the 8-byte token hash (never a broadcast — the vocab is unbounded
    * at corpus scale); docs with no tokens emit no row.
    */
  def unigramCrossEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val occ = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col("id"), xxhash64(col("__tok")).as("__th"))
    val counts = occ.groupBy(col("__th")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__t"))
    occ.join(counts, Seq("__th"))
      .crossJoin(broadcast(total))
      .select(col("id"),
        round(-log(col("__c").cast("double") / col("__t").cast("double")), 6)
          .cast("decimal(18,6)").as("__lnp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__lnp")).cast("decimal(18,6)").cast("double").as("__s"))
      .select(col("id"), col("n_tokens"),
        round(col("__s") / col("n_tokens").cast("double"), 4)
          .as("cross_entropy"))
  }

  /** Top-K vocabulary coverage per document: the fraction of a doc's
    * token OCCURRENCES that fall inside the corpus's top-`k` vocabulary
    * (count DESC, token ASC — an exact, total tie order, so the vocab
    * set is deterministic) — the tokenizer/corpus-fit audit run before
    * committing a vocab size, and the OOV-rate screen for mixing a new
    * source into a trained tokenizer's corpus.
    *
    * Scale: the vocab is a global top-k over the aggregated unigram
    * frame (TakeOrdered on |vocab| narrow rows, never corpus rows); the
    * k selected tokens then gate the occurrence stream as a BROADCAST
    * semi-join (k is bounded by contract). Exact integers plus one
    * final divide. Docs with no tokens emit no row.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val occ = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
    val top = occ.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc).limit(k)
      .select(col("tok"))
    occ.join(broadcast(top.withColumn("__in", lit(1L))), Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in"), lit(0L))).as("n_in_vocab"))
      .select(col("id"), col("n_tokens"), col("n_in_vocab"),
        round(col("n_in_vocab").cast("double") /
          col("n_tokens").cast("double"), 4).as("coverage"))
  }
  /** Unseen-vocabulary estimators per group — the "how much have we NOT
    * crawled yet" planning numbers: Good-Turing's missing mass
    * P₀ = N₁/N (Good 1953: the probability the NEXT token is a
    * never-seen type equals the singleton share) and the Chao1 richness
    * floor D + N₁²/(2·N₂) (Chao 1984: a lower bound on TRUE vocabulary
    * size from singleton/doubleton counts). Complements [[heapsFit]]
    * (growth-curve extrapolation) with closed forms that need only the
    * frequency-of-frequencies.
    *
    * Everything is exact integers (token counts, type counts, N₁, N₂)
    * until three final divides; Chao1 is NULL when N₂ = 0 (the
    * bias-corrected N₁(N₁−1)/2 form would also die there — callers see
    * the NULL and fall back to Heaps). Scale: one (group, token)
    * partial-agg, one group agg — no window, no collect.
    */
  def unseenVocab(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("__g"), tokens(col(textCol)).as("__t"))
      .filter(col("__g").isNotNull)
      .select(col("__g"), explode(col("__t")).as("__w"))
    val tf = tok.groupBy(col("__g"), col("__w")).agg(count(lit(1)).as("__c"))
    val g = tf.groupBy(col("__g")).agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("vocab_observed"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_singletons"),
      sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n_doubletons"))
    g.select(col("__g").as(groupCol), col("n_tokens"),
      col("vocab_observed"), col("n_singletons"), col("n_doubletons"),
      round(col("n_singletons").cast("double") /
        col("n_tokens").cast("double"), 4).as("p_unseen"),
      when(col("n_doubletons") > 0,
        round(col("vocab_observed").cast("double") +
          col("n_singletons").cast("double") *
          col("n_singletons").cast("double") /
          (lit(2.0) * col("n_doubletons").cast("double")), 4))
        .as("chao1_richness"))
  }

  /** HTML content extraction — the layer after the q370 fetch census
    * (WARC → HTTP → HTML → text): title, link count, and tag-stripped
    * text length from raw markup, via RE2-safe regexes (no lookaround
    * — the [[graft.functions.TextFunctions.BpeishPattern]] stance, so
    * a DuckDB oracle runs the IDENTICAL patterns). This is the cheap
    * structural census before a real DOM pass; a regex pass is the
    * standard first-cut main-content heuristic at crawl scale.
    *
    * Pure per-row column program — zero shuffles, I/O-bound.
    */
  def htmlExtract(df: DataFrame, idCol: String,
      htmlCol: Column, keep: Seq[String] = Nil): DataFrame = {
    val staged = df.filter(htmlCol.isNotNull)
      .select(col(idCol) +: keep.map(col) :+ htmlCol.as("__h"): _*)
    val title = regexp_extract(col("__h"), "<title>([^<]*)</title>", 1)
    staged.select(col(idCol) +: keep.map(col) :+
      when(length(title) > 0, title).as("title") :+
      size(regexp_extract_all(col("__h"), lit("<a href="), lit(0)))
        .cast("long").as("n_links") :+
      length(regexp_replace(col("__h"), "<[^>]*>", ""))
        .cast("long").as("text_chars"): _*)
  }

  /** Block-level main-content extraction — the boilerplate/content
    * split behind Readability/Boilerpipe-class extractors (Kohlschütter
    * et al., WSDM 2010: text density + link density per block), in the
    * regex-replayable subset: the page splits into blocks at closing
    * block-tag boundaries, each block scores (tag-stripped,
    * whitespace-collapsed text length; anchor-text length), and a
    * block survives iff its text is long enough AND its link density
    * is low enough — nav bars, footers, and link farms are short or
    * anchor-dominated; body prose is neither. The density gate is an
    * INTEGER cross-multiply (`anchor·100 ≤ text·pct`), so the
    * classification replays exactly with no float threshold.
    *
    * Output per page: block censuses (n_blocks, n_kept), exact char
    * accounting (main_chars + boiler_chars = total collapsed text
    * chars), and the kept blocks joined as `main_text`.
    *
    * Scale: a pure per-row column program — zero shuffle; the HTML
    * never leaves the scan, and each array stage is materialized once
    * per row (staged selects — interpreted HOF lambdas re-evaluate
    * inlined subtrees per element, the [[graft.queries.DedupQueries]] q29
    * lesson).
    */
  def mainContent(df: DataFrame, idCol: String, htmlCol: Column,
      minTextLen: Int = 20, maxLinkDensityPct: Int = 30,
      keep: Seq[String] = Nil): DataFrame = {
    def clean(c: Column): Column =
      regexp_replace(regexp_replace(c, "\\s+", " "), "^ | $", "")
    val kc = keep.map(col)
    val s1 = df.filter(htmlCol.isNotNull).select(col(idCol) +: kc :+
      split(htmlCol, "</p>|</div>|</li>|</h1>|</h2>|</h3>").as("__bl"): _*)
    val s2 = s1.select(col(idCol) +: kc :+
      size(col("__bl")).cast("long").as("n_blocks") :+
      transform(col("__bl"), b => {
        val txt = clean(regexp_replace(b, "<[^>]*>", ""))
        struct(txt.as("txt"), length(txt).as("tc"),
          length(clean(array_join(regexp_extract_all(b,
            lit("<a[^>]*>([^<]*)</a>"), lit(1)), " "))).as("ac"))
      }).as("__sc"): _*)
    val s3 = s2.select(col(idCol) +: kc :+ col("n_blocks") :+
      aggregate(col("__sc"), lit(0L), (a, s) => a + s("tc")).as("__tot") :+
      filter(col("__sc"), s =>
        s("tc") >= minTextLen &&
          s("ac") * 100 <= s("tc") * maxLinkDensityPct).as("__k"): _*)
    s3.select(col(idCol) +: kc :+ col("n_blocks") :+
      size(col("__k")).cast("long").as("n_kept") :+
      aggregate(col("__k"), lit(0L), (a, s) => a + s("tc")).as("main_chars") :+
      (col("__tot") - aggregate(col("__k"), lit(0L), (a, s) => a + s("tc")))
        .as("boiler_chars") :+
      array_join(transform(col("__k"), s => s("txt")), "\n").as("main_text"): _*)
  }
}
