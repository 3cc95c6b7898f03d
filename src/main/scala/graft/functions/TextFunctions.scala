package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the documents workload: tokenization,
  * n-grams/shingles, quality ratios, MinHash signatures. All pure Column
  * expressions (codegen'd, distributable); the only custom Catalyst
  * expressions live in [[HashExpressions]].
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empty strings removed. Backed by the
    * one-pass codegen'd [[HashFunctions.tokenize]] kernel; semantics identical to
    * `filter(split(lower(c), "\\s+"), t => t =!= "")` (the oracle-SQL
    * form), which three interpreted passes used to compute.
    */
  def tokens(c: Column): Column = HashFunctions.tokenize(c)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** GPT-2-style pre-tokenizer pattern (contractions, letter runs, digit
    * runs, punctuation runs, each with optional leading space). RE2-safe
    * (no lookaround), so a DuckDB oracle using the same pattern matches.
    */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count: how many pre-tokenizer pieces a tokenizer would
    * see — the standard cheap proxy for LLM token budgeting.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0)))

  /** Punctuation chars / total chars (0 for empty text). */
  def punctRatio(c: Column): Column = {
    val punct = length(c) - length(regexp_replace(c, "[.,;:!?'\"()\\-]", ""))
    when(length(c) > 0, punct.cast("double") / length(c)).otherwise(lit(0.0))
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords (0 for token-less text). */
  def stopwordRatio(c: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val toks = tokens(c)
    val sw = array(stopwords.map(lit): _*)
    val hits = size(filter(toks, t => array_contains(sw, t)))
    when(size(toks) > 0, hits.cast("double") / size(toks)).otherwise(lit(0.0))
  }

  /** Mean token length (null for token-less text). */
  def avgTokenLen(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Character n-grams of the raw string (positions 1..len-n+1).
    *
    * PERF: pass an attribute (a staged column), not a subtree — the lambda
    * body re-evaluates `c` once per n-gram (higher-order functions are
    * interpreted, no codegen CSE), so an embedded `lower(text)` turns this
    * O(n) into O(n²) per row.
    */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array())

  /** Word k-shingles (k consecutive tokens joined by a space), distinct,
    * from an already-materialized token-array column. Same PERF caveat as
    * [[charNgrams]]: `toks` must be an attribute, not `tokens(text)`
    * inline — that would re-tokenize per shingle.
    */
  def wordShinglesOf(toks: Column, k: Int): Column =
    // r12: one codegen'd kernel call (HashUtil.wordShingles) instead of the
    // interpreted array_distinct(transform + array_join + slice) program
    // — identical output incl. first-occurrence order and the
    // empty-array result for null/short token arrays
    HashFunctions.distinctWordShingles(toks, k)

  /** Convenience one-shot form — only for tiny/test inputs; hot paths must
    * stage tokens first and use [[wordShinglesOf]].
    */
  def wordShingles(c: Column, k: Int): Column = wordShinglesOf(tokens(c), k)

  /** MinHash signature (Broder 1997): for each of `numHashes` hash
    * functions, the min hash over the element set. Backed by the one-pass
    * codegen'd [[MinHash64]] expression (FNV base hash + splitmix64
    * family) — k interpreted transform/array_min passes with per-element
    * salt concats were ~5× slower.
    */
  def minHashSignature(elems: Column, numHashes: Int): Column =
    // guard on NON-NULL elements: an all-null array would otherwise yield
    // a Long.MaxValue-sentinel signature that LSH banding hashes into a
    // real bucket, colliding every featureless doc into one candidate
    // set. r12: guard and signature are ONE kernel call
    // (MinHash64OrNull) — the when(size(filter(...)) > 0, ...) form
    // interpreted a filter() pass per row just to decide the guard.
    graft.functions.HashFunctions.minhash64OrNull(elems, numHashes)

  /** LSH band keys from a minhash signature: hash of each band of `rowsPerBand`
    * signature values, tagged with the band index so buckets from different
    * bands never collide. Explode the result and group by it to get LSH
    * candidate buckets.
    */
  def lshBandKeys(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    // r12: one codegen'd kernel call (HashUtil.lshBandKeys) instead of
    // numBands interpreted slice+transform+array_join+xxhash64 programs
    // per row — byte-identical buckets (same comma-joined decimal
    // rendering, same XXH64 seed 42, same null-signature sentinel)
    HashFunctions.lshBandKeys(signature, numBands, rowsPerBand)

  /** Exact Jaccard similarity of two array-sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    // array_union over the former distinct-of-concat: same set value,
    // one pass, no 2k-element intermediate per candidate pair
    val union = size(array_union(a, b))
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }
}
