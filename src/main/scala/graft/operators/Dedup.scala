package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import graft.functions.HashFunctions._

/** Deduplication operators for the large-scale training-data pipeline.
  *
  * Scale notes (the whole point of these designs):
  *  - exact dedup is one hash-shuffle on the group key; at 100 TB group on
  *    a 64-bit content hash, not the full text, so shuffle rows are ~16 B
  *    of key instead of whole documents.
  *  - MinHash/LSH avoids the O(n²) pair space: candidates only form within
  *    (band, bucket) groups, so the self-join is bucket-local. The band
  *    explode multiplies rows by #bands (constant), never by n.
  *  - SimHash candidates form within 16-bit band buckets of the 64-bit
  *    signature (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal).
  */
object Dedup {

  /** Exact content dedup keeping the smallest id per content group —
    * deterministic, oracle-friendly (unlike dropDuplicates' arbitrary
    * winner), keyed on the raw content value so plain SQL can express it.
    */
  def exactGroupsByValue(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
      .select("keep_id", "copies")

  /** Persisted content-hash index for INCREMENTAL exact dedup — the
    * shard-arrival form of exact content dedup: the accumulated corpus
    * is represented on disk by the 8-byte FNV-64 hashes of its
    * [[canonicalText]], laid out in 256 hash buckets; each arriving
    * shard dedups by joining its hashes against the index
    * ([[dedupAgainstIndex]]) and the index then grows by appending
    * ONLY the genuinely-new hashes ([[appendToContentIndex]] — append
    * adds files, never rewrites: the IvfIndex/BM25 frozen-layout
    * maintenance contract, so incremental results are bit-identical to
    * a one-shot index of the full history). At fleet scale the index
    * is 8 B/doc and every join shuffles hashes, never text. FNV-64
    * collisions flag a false dup at ~1e-7 per 1e6 docs (the
    * decontaminate stance); collision-paranoid callers re-check
    * flagged rows on canonical text.
    *
    * `buckets` sizes the hash-bucket layout: 256 for fleet-scale
    * indexes (the default); small-SF/test callers pass fewer — at tiny
    * scale the per-directory listing overhead of 256 near-empty buckets
    * dominates every read. Append/probe calls must use the same value
    * the index was written with.
    */
  def writeContentIndex(df: DataFrame, textCol: String, path: String,
      buckets: Int = 256): Unit =
    df.select(fnv64(canonicalText(col(textCol))).as("h"))
      .filter(col("h").isNotNull).distinct()
      .withColumn("bucket", pmod(col("h"), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Flag each row of a new shard against the persisted index:
    * (id, content_hash, is_dup). Null text hashes to null and is never
    * a dup (the gate null convention — judge it upstream).
    */
  def dedupAgainstIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame =
    dedupAgainstHashes(df, idCol, textCol,
      df.sparkSession.read.parquet(path).select(col("h")))

  /** Same flagging against an explicit hash relation (one `h` column) —
    * lets callers pin a SNAPSHOT of the index (the streaming gate's
    * batch-layout-invariance contract) instead of re-reading the path.
    */
  def dedupAgainstHashes(df: DataFrame, idCol: String, textCol: String,
      hashes: DataFrame): DataFrame = {
    val idx = hashes
      .select(col("h").as("content_hash"), lit(true).as("__seen"))
    df.select(col(idCol).as("id"),
        fnv64(canonicalText(col(textCol))).as("content_hash"))
      .join(idx, Seq("content_hash"), "left")
      .select(col("id"), col("content_hash"),
        col("__seen").isNotNull.as("is_dup"))
  }

  /** Grow the index with a processed shard's NEW hashes only (anti join
    * keeps the index duplicate-free; bucketed append keeps the layout).
    *
    * The new-hash frame is MATERIALIZED (eager localCheckpoint) before
    * the append starts: the anti join reads the same path the write
    * targets, and running both in one lazy job would rely on the file
    * listing being snapshotted before the first new file lands — the
    * self-read-write hazard Spark hard-errors on for overwrite mode.
    * Checkpointing first means the read side is fully consumed before
    * any write begins; the checkpoint blocks are ContextCleaner-freed
    * when the frame goes out of scope.
    */
  def appendToContentIndex(df: DataFrame, textCol: String,
      path: String, buckets: Int = 256): Unit = {
    val idx = df.sparkSession.read.parquet(path).select(col("h"))
    val fresh = df.select(fnv64(canonicalText(col(textCol))).as("h"))
      .filter(col("h").isNotNull).distinct()
      .join(idx, Seq("h"), "left_anti")
      .localCheckpoint(true)
    fresh
      .withColumn("bucket", pmod(col("h"), lit(buckets.toLong)))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** LSH candidate pairs from an (id, feats) relation: minhash signature →
    * band keys → bucket self-join → distinct id pairs.
    *
    * The join deliberately carries ONLY (band key, id): shuffling the
    * feature arrays through the bucket join (and through the pair-dedup)
    * is what kills this operator at scale — candidates are formed narrow,
    * features are joined back afterwards for the few surviving pairs.
    */
  private def lshCandidatePairs(featured: DataFrame,
      numHashes: Int, numBands: Int): DataFrame = {
    // numBands > numHashes would slice EMPTY band keys (every doc
    // collides in every band → the O(n²) cross product banding exists
    // to prevent); a non-divisor silently drops trailing signature
    // hashes and shifts recall — both are caller bugs, fail loudly
    require(numBands >= 1 && numHashes >= numBands &&
      numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes)")
    // PRECONDITION: every featured row carries >= 1 non-null feature.
    // Both callers guarantee it (their upstream size/length filters plus
    // the containsNull=false tokenize/ngramHashes kernels), and it
    // matters: a featureless row gets a NULL signature from
    // minHashSignature's guard, and NULL band-hashes to one constant
    // bucket (xxhash64(null) = seed) — every such doc would collide into
    // one candidate set and Jaccard-rerank as bogus 1.0 pairs. Guarding
    // HERE is the wrong place: any filter referencing the feats/sig alias
    // is substituted below the projection by the optimizer and the
    // expensive kernel evaluates twice per row (measured 2.8x on q29).
    val rowsPerBand = numHashes / numBands
    val banded = featured
      .withColumn("sig", minHashSignature(col("feats"), numHashes))
      .select(col("id"),
        explode(graft.functions.TextFunctions.lshBandKeys(
          col("sig"), numBands, rowsPerBand)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact-similarity rerank: join the feature arrays back onto the (few)
    * candidate pairs and compute exact Jaccard.
    */
  private def jaccardRerank(candidates: DataFrame, featured: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(featured.select(col("id").as("id_a"), col("feats").as("f_a")), "id_a")
      .join(featured.select(col("id").as("id_b"), col("feats").as("f_b")), "id_b")
      .withColumn("jaccard", jaccard(col("f_a"), col("f_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Banding for a target Jaccard threshold: pick rows-per-band r (a
    * divisor of numHashes) whose S-curve midpoint (1/b)^(1/r) sits
    * closest to — and not above — the threshold, so pairs AT the
    * threshold are found with high probability. Standard LSH tuning
    * (Leskovec/Rajaraman/Ullman, MMDS ch.3).
    */
  def bandingFor(jaccardThreshold: Double, numHashes: Int = 16): (Int, Int) = {
    val candidates = (1 to numHashes).filter(numHashes % _ == 0).map { r =>
      val b = numHashes / r
      (b, r, math.pow(1.0 / b, 1.0 / r)) // collision-curve midpoint
    }
    val eligible = candidates.filter(_._3 <= jaccardThreshold)
    val (b, r, _) =
      if (eligible.nonEmpty) eligible.maxBy(_._3)
      else candidates.minBy(_._3)
    (b, r)
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard rerank.
    *
    * word-shingle(k) → minhash(numHashes) → band keys → narrow bucket
    * self-join → distinct pairs → exact Jaccard on shingle sets. The
    * expensive part is proportional to true near-dup density, not n².
    *
    * `numBands <= 0` (the default) derives banding from the threshold via
    * [[bandingFor]], so the S-curve midpoint sits at or below the
    * threshold — ONE source of truth for banding across queries, bench
    * and curation. Pass an explicit band count only to trade recall for
    * candidate volume deliberately.
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, numBands: Int = 0,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val bands =
      if (numBands > 0) numBands else bandingFor(jaccardThreshold, numHashes)._1
    // Stage tokens as an attribute before shingling: an inlined tokens()
    // subtree would be re-evaluated per shingle inside the (interpreted)
    // higher-order lambda — O(n²) per row. The filter between the two
    // projections also keeps CollapseProject from re-inlining.
    // r12: the featured frame feeds FOUR plan branches (both sides of
    // the band self-join + both rerank joins), and filter pushdown
    // re-inlines tokens() into every scan's condition — the measured
    // plan ran tokenize 8× and the shingle kernel 4× over the corpus.
    // A LAZY localCheckpoint (the spanDedup grams discipline) stores the
    // narrow (id, feats) rows once; blocks are ContextCleaner-freed when
    // the result frame is dropped.
    val featured = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleSize)
      .select(col("id"), wordShinglesOf(col("toks"), shingleSize).as("feats"))
      .localCheckpoint(false)
    jaccardRerank(lshCandidatePairs(featured, numHashes, bands),
      featured, jaccardThreshold)
  }

  /** SimHash signatures for a text column (tokens → 64-bit signature). */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming` (banded self-join: split the
    * 64-bit signature into 16-bit bands; hamming ≤ 3 guarantees a shared
    * band, so candidates form only inside band-value buckets).
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    bandedHamming64Pairs(
      simHashSignatures(df, idCol, textCol).select(col("id"), col("simhash").as("sig")),
      maxHamming)

  /** Banded Hamming self-join over any 64-bit signature frame
    * `(id, sig)` — the shared kernel behind [[simHashNearDups]] (text
    * SimHash) and [[Multimodal.dHashNearDups]] (image dHash). Splits the
    * signature into 4×16-bit bands; pigeonhole: hamming ≤ 3 implies at
    * least one unchanged band, so candidates form only inside band-value
    * buckets and recall is total. Candidate volume scales with bucket
    * co-occupancy (dup density), never n².
    */
  private[operators] def bandedHamming64Pairs(sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4×16-bit banding guarantees recall only for hamming <= 3")
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bits"))
      }: _*)).as("bk"))
    val a = banded.select(col("bk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("bk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hammingDistance64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs sharing at
    * least one character n-gram MinHash bucket (cheap LSH over char
    * n-grams instead of word shingles — catches near-dups that reorder
    * words less but edit characters).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5,
      numHashes: Int = 12, numBands: Int = 0): DataFrame = {
    val bands = if (numBands > 0) numBands else bandingFor(threshold, numHashes)._1
    // Grams go straight to distinct 64-bit hashes in one codegen'd pass
    // (ngramHashes kernel): set semantics are identical (collisions
    // negligible) and the LSH input + Jaccard rerank compare/shuffle
    // 8-byte longs — no per-position substr, no string shuffles.
    val featured = df.select(col(idCol).as("id"), lower(col(textCol)).as("lo"))
      .filter(length(col("lo")) >= n)
      .select(col("id"),
        graft.functions.HashFunctions.ngramHashes(col("lo"), n).as("feats"))
      // one materialization for the four plan branches (see
      // minHashNearDups — same lazy-checkpoint discipline)
      .localCheckpoint(false)
    jaccardRerank(lshCandidatePairs(featured, numHashes, bands),
      featured, threshold)
  }

  /** Embedding-cosine near-duplicate pairs: candidates from BANDED
    * hyperplane-LSH buckets (OR-construction), exact cosine rerank at
    * `threshold`. The single-signature version recalled ~0.17 of true
    * pairs at τ = 0.3 on this corpus; 15×4-bit bands recall ~0.87
    * (candidate probability 1-(1-p^4)^15 at per-plane agreement p).
    * Banding bounds the pair space like the MinHash path bounds text
    * pairs — candidates scale with bucket co-occupancy, not n².
    *
    * RECALL CEILING at low τ: no LSH family covers the 0.3-0.5 cosine
    * band with total recall without ~O(n²) candidates (measured on this
    * corpus: ~0.93 at τ = 0.4, ~0.87-0.89 at τ = 0.3; pairs AT the
    * threshold are candidates with probability strictly < 1 for any
    * bounded banding). Treat results below τ ≈ 0.5 as a high-recall
    * sample, not the exact pair set — callers needing exactness use
    * [[Similarity.thresholdPairs]] (O(n²), oracle scale only).
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame =
    Similarity.bandedScoredPairs(corpus, numBands, planesPerBand, dim, seed)
      .filter(col("cosine") >= threshold)

  /** The UNthresholded candidate set of [[embeddingNearDups]] with exact
    * cosines — the banding-quality audit surface: its cosine histogram
    * shows how much of the candidate volume a given τ confirms
    * (precision) and how sharply candidates decay below τ, which is
    * what you tune bands/rows against before a corpus-scale run.
    */
  def embeddingCandidateScores(corpus: DataFrame, numBands: Int = 15,
      planesPerBand: Int = 4, dim: Int = 64, seed: Long = 42L): DataFrame =
    Similarity.bandedScoredPairs(corpus, numBands, planesPerBand, dim, seed)

  /** Cross-source content overlap: for every source pair, how many
    * DISTINCT canonical documents appear in both — the contamination
    * matrix a release report prints before mixing sources (a mirror
    * crawl shows up as a near-1.0 jaccard row; a clean pairing rounds
    * to 0). Shuffles carry (source, 8-byte canonical hash) only; the
    * self-join keys on the hash, so pair volume scales with true
    * cross-source duplication, not |corpus|². Pairs with zero shared
    * content emit no row (the report lists offenders, not the
    * all-pairs zero matrix).
    */
  def sourceOverlap(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val hs = df.select(col(sourceCol).as("source"),
        fnv64(canonicalText(col(textCol))).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    val tot = hs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(tot.select(col("source").as("source_a"), col("n").as("n_a")),
        "source_a")
      .join(tot.select(col("source").as("source_b"), col("n").as("n_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4)
          .as("jaccard"))
  }

  /** Dedup yield curve: one banded candidate generation + exact rerank
    * evaluated at EVERY threshold in `thresholds` — the release-report
    * table ("what does τ buy me") that decides a dedup threshold
    * without re-running the pipeline per τ. Per threshold: surviving
    * candidate pairs, distinct docs in ≥1 pair, and the flagged share
    * of the (nonzero-norm) corpus. Same recall contract as
    * [[embeddingNearDups]] — the banding bounds the candidate space
    * once; thresholds only re-slice the SAME scored pairs (eagerly
    * checkpointed, so the expensive banding never recomputes across
    * the per-threshold branches).
    */
  def dedupYieldSweep(corpus: DataFrame, thresholds: Seq[Double],
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    val scored = Similarity
      .bandedScoredPairs(corpus, numBands, planesPerBand, dim, seed)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .localCheckpoint(true)
    val f = scored
      .withColumn("threshold", explode(array(thresholds.map(lit(_)): _*)))
      .filter(col("cosine") >= col("threshold"))
    val p = f.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val d = f.select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("threshold"))
      .agg(count_distinct(col("id")).as("n_docs_flagged"))
    val tot = Similarity.withNorm(corpus, "id", "v", "n")
      .agg(count(lit(1)).as("__total"))
    thresholds.toDF("threshold")
      .join(p, Seq("threshold"), "left")
      .join(d, Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
        round(coalesce(col("n_docs_flagged"), lit(0L)).cast("double") /
          col("__total").cast("double"), 4).as("flagged_share"))
  }

  /** Dedup-savings estimate per group (typically source): if exact
    * normalized dedup ran today, how many documents and how many bytes
    * would each source lose? Winner = min-id member of each
    * canonical-text group (the keep-first contract); every other
    * member's bytes count as savings, attributed to the LOSING doc's
    * group — the budget number that decides whether the dedup pass is
    * worth scheduling. One content-hash aggregate + one join back;
    * shuffles carry (hash, id) pairs, never text.
    */
  def dedupSavings(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, bytesCol: Column): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      bytesCol.cast("long").as("bytes"),
      canonicalText(col(textCol)).as("__canon"))
    val winners = base.filter(col("__canon").isNotNull)
      .groupBy(col("__canon"))
      .agg(min(col("id")).as("__win"))
    // LEFT join + self-win coalesce: a NULL canonical text never
    // equi-joins, and this file's contract says null text is never a
    // dup — each such doc is its own winner (an inner join would
    // silently DROP those docs from every count)
    base.join(winners, Seq("__canon"), "left")
      .withColumn("__win", coalesce(col("__win"), col("id")))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("id") =!= col("__win"), 1L).otherwise(0L))
          .as("dup_docs"),
        sum(when(col("id") =!= col("__win"), col("bytes")).otherwise(0L))
          .as("bytes_saved"),
        // guard the divide: a group whose docs all carry 0/NULL byte
        // counts gets a NULL ratio, not NaN (matches the q273 oracle's
        // CASE WHEN — and the tokenGini/bpeFertility guard convention)
        round(when(sum(col("bytes")) > 0,
          sum(when(col("id") =!= col("__win"), col("bytes"))
            .otherwise(0L)).cast("double") /
            sum(col("bytes")).cast("double")), 4).as("savings_ratio"))
  }

  /** Chaining-drift audit of near-dup clusters: transitive closure
    * happily chains A–B–C where cos(A,C) is far below the pair
    * threshold — the classic over-merge failure of cluster dedup. Per
    * cluster (from the [[nearDupRepresentatives]] components over
    * τ-thresholded pairs): member count, full all-pairs count, the
    * MINIMUM pairwise cosine over the AUDITED pairs, and a `chained`
    * flag when that minimum dips under τ — the clusters a reviewer
    * should split before deleting their members.
    *
    * Mega-cluster cap: dup clusters are small by construction, but a
    * pathological mega-cluster (the very thing the flag surfaces) would
    * make the per-cluster all-pairs step quadratic in its size. Per
    * cluster, only the `maxAuditMembers` members with the smallest
    * `xxhash64(id)` (a deterministic, data-independent sample) enter
    * the pair enumeration — bounding pairs per cluster at
    * maxAuditMembers·(maxAuditMembers−1)/2 while `n_pairs` still
    * reports the FULL pair count (from size arithmetic) and `truncated`
    * records that the audit sampled. A truncated cluster's
    * min_pair_cosine is an upper-biased estimate — the flag stays
    * informative (a sampled min below τ proves chaining; mega-clusters
    * are near-certainly chained anyway) and the audit stays bounded.
    */
  def clusterChainingAudit(corpus: DataFrame, threshold: Double,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L, maxAuditMembers: Int = 256): DataFrame = {
    require(maxAuditMembers >= 2,
      s"maxAuditMembers must be >= 2, got $maxAuditMembers")
    val pairs = embeddingNearDups(corpus, threshold, numBands,
      planesPerBand, dim, seed)
    val reps = nearDupRepresentatives(pairs)
    val v = Similarity.withNorm(corpus, "id", "vec", "nrm")
    val sizes = reps.groupBy(col("rep").as("cluster"))
      .agg(count(lit(1)).as("size"))
    val sampled = reps
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("rep"))
          .orderBy(xxhash64(col("id")), col("id"))))
      .filter(col("__rk") <= maxAuditMembers)
      .drop("__rk")
    val m = sampled.join(v, Seq("id"))
    m.as("a").join(m.as("b"),
        col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
      .select(col("a.rep").as("cluster"),
        Similarity.pairCosine(col("a.vec"), col("b.vec"),
          col("a.nrm"), col("b.nrm")).as("__c"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("audited_pairs"),
        round(min(col("__c")), 4).as("min_pair_cosine"),
        (min(col("__c")) < threshold).as("chained"))
      .join(sizes, Seq("cluster"))
      .select(col("cluster"), col("size"),
        expr("size * (size - 1) div 2").as("n_pairs"),
        col("audited_pairs"), col("min_pair_cosine"), col("chained"),
        (col("size") > maxAuditMembers).as("truncated"))
  }

  /** Canonical text form for normalization-aware dedup: lowercase,
    * whitespace runs collapsed to one space, ends trimmed. Catches the
    * case/indentation/line-wrap variants raw exact dedup misses — the
    * cheap normalization every dedup stack runs before hashing. Pure
    * codegen Column expression; ASCII-safe on both engines' `\s`.
    */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup groups keyed on the CANONICAL text ([[canonicalText]]):
    * same min-id winner semantics as [[exactGroupsByValue]], but
    * whitespace/case variants collapse into one group.
    */
  def exactGroupsNormalized(df: DataFrame, contentCol: String,
      idCol: String): DataFrame =
    df.groupBy(canonicalText(col(contentCol)).as("__canon"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
      .select("keep_id", "copies")

  /** Containment-similarity pairs: `c(A,B) = |A∩B| / min(|A|,|B|)` over
    * word-shingle sets — the asymmetric complement of Jaccard that
    * catches a short document quoted verbatim inside a long one (their
    * Jaccard is ≈ |short|/|long| ≈ 0, their containment is ≈ 1; the
    * Dolma/RefinedWeb stacks gate on both). Exact, not approximate:
    * containment ≥ τ > 0 implies at least one shared shingle, so a
    * shared-shingle candidate join has TOTAL recall — no LSH tuning gap.
    *
    * Shape: the compact-set broadcast form of [[winnowNearDupsDense]]
    * (per-doc sorted 64-bit shingle hashes + the zero-alloc
    * SortedIntersectCount merge kernel) — right for shard-level scopes
    * where one side broadcasts; for an unbounded corpus use the sparse
    * shared-shingle join, which the total-recall argument above makes
    * exact on the same output. 64-bit shingle-hash collisions negligible
    * (same contract as [[ngramJaccardPairs]]).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sets = df
      .select(col(idCol).as("id"), graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= shingleSize)
      .select(col("id"),
        graft.functions.TextFunctions.wordShinglesOf(col("__toks"), shingleSize).as("__feats"))
      // sorted 64-bit hashes: the merge kernel's input; materialized once
      // (both join sides reference it)
      .select(col("id"),
        sort_array(transform(col("__feats"), s => xxhash64(s))).as("fs"))
      .localCheckpoint(true)
    sets.as("a").join(broadcast(sets.as("b")), col("a.id") < col("b.id"))
      .withColumn("__inter",
        graft.functions.HashFunctions.sortedIntersectCount(col("a.fs"), col("b.fs")))
      .withColumn("containment",
        col("__inter").cast("double") /
          least(size(col("a.fs")), size(col("b.fs"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("containment"))
  }

  /** Representative assignment for near-dup groups: each id of the
    * pair graph maps to the smallest id in its connected component —
    * [[Graph.connectedComponents]] over `(id_a, id_b)` (integral ids),
    * renamed to `(id, rep)`. Ids are the pairs' endpoints; no pair
    * producer emits a self-pair or a null id (the LSH/rerank producers
    * pair `a.id < b.id` strictly), and the callers that union in
    * unpaired documents key them on themselves.
    */
  def nearDupRepresentatives(pairs: DataFrame): DataFrame =
    Graph.connectedComponents(pairs, "id_a", "id_b")
      .select(col("vertex").as("id"), col("component").as("rep"))

  /** Winnowing-based near-dup candidates (the MOSS approach): documents
    * sharing at least `minShared` winnowing fingerprints. Guarantees: any
    * pair sharing a substring of length ≥ window+k-1 shares a fingerprint,
    * so long verbatim overlaps are always caught regardless of how much
    * surrounding text differs — the complement of shingle-Jaccard (which
    * needs high OVERALL similarity).
    *
    * One explode + one self-join on the 8-byte fingerprint, aggregated to
    * pair counts: no payload shuffle. SCALE CONTRACT: the join cost is
    * Σ n_h² over per-fingerprint doc counts — bounded exactly when the
    * corpus has been EXACT-DEDUPED first (the [[exactDedup]] → winnow
    * order of a curation pipeline), so fingerprint collisions reflect
    * true partial overlaps, not wholesale duplication. On a
    * collision-dense corpus (this testdata: 94% of all doc pairs share a
    * fingerprint) use [[winnowNearDupsDense]] — measured 37 s vs 6.7 s at
    * sf0.1. Rejected variants, measured: AllPairs prefix-filtering (57 s
    * — minShared ≪ set size, so the prefix barely prunes); salted
    * self-join (78 s — the cost is the 12M-group pair aggregation, not
    * partition skew).
    */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 6, minShared: Int = 2): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.HashFunctions.winnowFingerprint(col(textCol), k, window))
        .as("fp"))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Collision-dense variant of [[winnowNearDups]]: identical output,
    * different shape — per-doc SORTED fingerprint sets (5k docs × ~77
    * fps ≈ 3 MB at sf0.1) broadcast into an all-pairs intersection
    * count. When nearly every pair collides, enumerating the collision
    * graph through a join degenerates to Σ n_h² rows plus a pair-count
    * aggregation over ~n²/2 groups; the compact-array form touches each
    * pair once with no shuffle at all. Use for shard-level / post-LSH
    * candidate-group scopes where the set side fits a broadcast; the
    * fingerprint join remains the unbounded-corpus path.
    */
  def winnowNearDupsDense(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 6, minShared: Int = 2): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.HashFunctions.winnowFingerprint(col(textCol), k, window))
        .as("fp"))
    // materialize the (tiny) per-doc sets once: both join sides reference
    // them, and the broadcast build must not re-run the explode+agg
    val sets = fps.groupBy(col("id"))
      .agg(sort_array(collect_set(col("fp"))).as("fs"))
      .localCheckpoint(true)
    // SortedIntersectCount = zero-allocation merge walk (sets are sorted
    // above); array_intersect's per-row hash sets measured 134 s here
    // under session GC pressure
    sets.as("a").join(broadcast(sets.as("b")), col("a.id") < col("b.id"))
      .withColumn("shared_fingerprints",
        graft.functions.HashFunctions.sortedIntersectCount(col("a.fs"), col("b.fs")))
      .filter(col("shared_fingerprints") >= minShared)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("shared_fingerprints"))
  }

  /** Localized verbatim overlaps: for each pair sharing a winnowing
    * fingerprint, the byte offsets of the shared k-gram in BOTH documents
    * — the full MOSS output shape. Same narrow join as
    * [[winnowNearDups]], with positions carried alongside the 8-byte
    * fingerprint.
    *
    * SCALE WARNING: the pair space is every document collision on any
    * fingerprint — on corpora with heavy verbatim repetition the
    * self-join fans out on the hot hashes (measured 207 s at sf0.1 vs
    * 2 s for the pairs-scoped form below). Use THIS form only when the
    * full collision graph is the product; to localize overlaps for an
    * already-known pair set (the MOSS workflow: detect with
    * [[winnowNearDups]], then localize), use the `pairs` overload.
    */
  def winnowOverlaps(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 6): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.HashFunctions.winnowPositions(col(textCol), k, window))
        .as("fp"))
      .select(col("id"), col("fp.hash").as("hash"), col("fp.pos").as("pos"))
    fps.as("a").join(fps.as("b"),
        col("a.hash") === col("b.hash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.hash").as("hash"), col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
  }

  /** Pairs-scoped overlap localization: fingerprints are computed ONLY for
    * documents appearing in `pairs` (a semi-join, so the corpus scan
    * prunes to pair members before the expensive positions kernel), and
    * the hash join runs per pair instead of across the whole corpus —
    * cost scales with |pairs| × shared-sites, not with global hash
    * collisions. Output identical to filtering the corpus-wide form to
    * `pairs`.
    */
  def winnowOverlaps(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, k: Int, window: Int): DataFrame = {
    val members = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val fps = df.select(col(idCol).as("id"), col(textCol))
      .join(members, Seq("id"), "left_semi")
      .select(col("id"),
        explode(graft.functions.HashFunctions.winnowPositions(col(textCol), k, window))
          .as("fp"))
      .select(col("id"), col("fp.hash").as("hash"), col("fp.pos").as("pos"))
    pairs.select(col("id_a"), col("id_b"))
      .join(fps.select(col("id").as("id_a"), col("hash"), col("pos").as("pos_a")), Seq("id_a"))
      .join(fps.select(col("id").as("id_b"), col("hash"), col("pos").as("pos_b")),
        Seq("id_b", "hash"))
      .select(col("id_a"), col("id_b"), col("hash"), col("pos_a"), col("pos_b"))
  }

  /** Boilerplate-line stripping — the frequency-based RefinedWeb/CCNet
    * pass that [[lineDedup]]'s keep-first rule does NOT express: a line
    * occurring in MORE than `maxDocFreq` distinct documents (navigation
    * chrome, cookie banners, license blurbs) is removed from EVERY
    * document, first occurrence included.
    *
    * Input/output shape matches [[lineDedup]] (`linesCol: array<string>`
    * in; one row per doc with the surviving lines rejoined in order).
    *
    * Scale: line doc-frequencies partial-aggregate on (line, id) then
    * count; the hot set (lines above the threshold) is SMALL by
    * construction — that's what makes it boilerplate — so the anti join
    * broadcasts it; the rebuild is the bounded per-doc collect of
    * [[lineDedup]]. No corpus-wide window, no driver state.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, linesCol: Column,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val spine = df.select(col(idCol).as("id"),
        emptyIfNull(linesCol).as("__lines"))
      .select(col("id"), col("__lines"),
        size(col("__lines")).cast("long").as("n_lines"))
    val occurrences = spine
      .select(col("id"), posexplode(col("__lines")).as(Seq("pos", "line")))
    val hot = occurrences
      .groupBy(col("line"))
      .agg(count_distinct(col("id")).as("__nd"))
      .filter(col("__nd") > maxDocFreq)
      .select(col("line"))
    val kept = occurrences.join(broadcast(hot), Seq("line"), "left_anti")
    val rebuilt = rebuildLines(kept, "text_kept")
    spine.select(col("id"), col("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Per-GROUP boilerplate stripping: a line is boilerplate within its
    * group (source/domain) when it appears in more than `maxDocFreq`
    * distinct docs OF THAT GROUP — the per-site template detector
    * (site-wide footers repeat within a domain, not across the corpus,
    * so the global [[stripBoilerplate]] threshold misses them). Hot
    * set keyed by (group, line), broadcast; same rebuild as the global
    * form.
    */
  def stripBoilerplateBySource(df: DataFrame, idCol: String,
      groupCol: String, linesCol: Column, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val spine = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      emptyIfNull(linesCol).as("__lines"))
      .select(col("id"), col("grp"), col("__lines"),
        size(col("__lines")).cast("long").as("n_lines"))
    val occurrences = spine
      .select(col("id"), col("grp"),
        posexplode(col("__lines")).as(Seq("pos", "line")))
    val hot = occurrences
      .groupBy(col("grp"), col("line"))
      .agg(count_distinct(col("id")).as("__nd"))
      .filter(col("__nd") > maxDocFreq)
      .select(col("grp"), col("line"))
    val kept = occurrences.join(broadcast(hot), Seq("grp", "line"), "left_anti")
    val rebuilt = rebuildLines(kept, "text_kept")
    spine.select(col("id"), col("grp"), col("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("grp").as("source"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Exact repeated-SPAN dedup across documents (the Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" pass,
    * re-expressed relationally): any `spanLen`-token window whose content
    * occurs anywhere else in the corpus with an earlier (`idCol`,
    * position) survives only at that first occurrence — every later
    * occurrence has ALL tokens it covers removed from its document.
    * Overlapping duplicated windows merge naturally (covered-position
    * union), so a repeated paragraph of any length ≥ spanLen is excised
    * as one contiguous hole, exactly like the suffix-array formulation —
    * without a corpus-wide suffix array, which has no bounded-memory
    * distributed shape.
    *
    * Input: one row per doc with `toksCol: array<string>`. Output: one
    * row per doc — (id, n_tokens, n_kept, n_removed, text_dedup) with
    * surviving tokens rejoined by " " in original order.
    *
    * Scale shape: positional gram explode (×n_tokens, but each row is a
    * narrow (id, pos, 8-byte xxhash64(gram)) — payloads never fan out) →
    * ONE shuffle on the gram hash with a per-hash `row_number` (ordered
    * by (id, pos); rn > 1 ⇒ duplicated occurrence). The window form
    * deliberately beats the min(struct)-winner + join-back alternative:
    * struct-min plans as SortAggregate (sorts by gh anyway), and the join
    * back would re-run the gram kernel on a second corpus scan AND
    * shuffle the full gram set a second time — measured plan had 2 gram
    * subtrees, 6 exchanges; this has 1 and 4. Hot grams (boilerplate)
    * are one partition-local sorted run, not a skewed join. Skew
    * insurance (`hotGramCap`): a gram repeated more often than the cap
    * is boilerplate by definition, and its non-winner occurrences are
    * derivable WITHOUT the window — winner = min(struct(id, pos)), the
    * same total order `row_number` sorts by. Detection must not cost a
    * second full gram shuffle (measured: an exact count pre-pass
    * doubled q111 — distinct-gram partials are the same volume as the
    * window input on mostly-unique corpora), so hot grams are found on
    * a DETERMINISTIC HASH SAMPLE of 1/`hotSampleRate` gram occurrences
    * (the classic skew-hint pass): a gram sampled more than
    * cap/rate times is routed hot. Routing is correctness-neutral —
    * BOTH paths keep exactly the min-(id, pos) occurrence, so output is
    * bit-identical for ANY hot set (spec-pinned), including sampling
    * false positives/negatives; the cap is w.h.p. insurance (a count-N
    * gram escapes detection with probability (1-1/rate)^N — vanishing
    * for true boilerplate), and the detection shuffle carries 1/rate of
    * the gram volume. rate=1 degrades to exact counting. Hot winners
    * come from a tiny aggregation over only hot-tagged rows, broadcast
    * (hot set ≤ totalGrams/cap by construction). Only cold grams enter
    * the per-hash window. Then:
    * covered-position union bounded by spanLen × true-dup density →
    * posexplode anti-join rebuild, per-doc collect bounded by document
    * size. No driver state. Gram identity is the 64-bit hash on the
    * engine side (8 B shuffle keys instead of ~10-token strings); a
    * 64-bit collision could fuse two distinct grams — negligible below
    * ~2^32 distinct grams per corpus shard, same contract as
    * [[ngramJaccardPairs]].
    */
  def spanDedup(df: DataFrame, idCol: String, toksCol: Column,
      spanLen: Int = 8, hotGramCap: Int = 4096,
      hotSampleRate: Int = 64, minMatchLen: Int = 0): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    require(hotGramCap >= 1, s"hotGramCap must be >= 1, got $hotGramCap")
    require(hotSampleRate >= 1, s"hotSampleRate must be >= 1, got $hotSampleRate")
    val spine = df.select(col(idCol).as("id"),
        emptyIfNull(toksCol).as("__toks"))
      .select(col("id"), col("__toks"),
        size(col("__toks")).cast("long").as("n_tokens"))
    // positional grams: index i (0-based) = span starting at token i.
    // __toks is a staged attribute, so the interpreted transform lambda
    // does not re-evaluate the token expression per gram.
    // r12: gram strings never leave the row, so the interpreted
    // transform+array_join+slice build followed by xxhash64(gram) is one
    // posGramHashes kernel call — byte-identical XXH64 values (same
    // space-joining, same seed 42), positions unchanged (posexplode
    // index = window start).
    val grams = spine
      .filter(size(col("__toks")) >= spanLen)
      .select(col("id"), posexplode(
        graft.functions.HashFunctions.posGramHashes(col("__toks"), spanLen))
        .as(Seq("pos", "gh")))
      // The gram frame feeds four plan branches (sample census, hot
      // winners, hot dups, cold window); without materialization each
      // branch re-runs the slice/join/hash kernel over the corpus —
      // measured 4× the kernel CPU. localCheckpoint stores the narrow
      // (id, pos, gh) rows once (disk-spilling blocks; same discipline
      // as the iterative operators' per-round checkpoints) at the price of
      // checkpoint-grade fault tolerance. LAZY (eager=false):
      // constructing the plan must not launch a job — blocks
      // materialize at the caller's first action. Lifecycle: the blocks
      // stay pinned while the returned frame is reachable and are freed
      // by Spark's ContextCleaner once the caller drops it (standard
      // localCheckpoint contract); long-lived sessions that hold many
      // results should drop or re-derive them rather than keep each
      // checkpointed plan alive.
      .localCheckpoint(false)
    // Skew-hint pre-pass: count a 1/rate deterministic hash-sample of
    // gram occurrences (partial-aggregated; carries ~1/rate of the gram
    // volume) — sample-count > cap/rate flags the gram hot. The salt
    // (second xxhash64 over gh) decorrelates sampling from the shuffle
    // partitioner so hot grams can't hide from the sample.
    val sampleThreshold = hotGramCap.toDouble / hotSampleRate
    val hotGhs = grams
      .filter(pmod(xxhash64(col("gh"), lit(0x5eedL)), lit(hotSampleRate.toLong)) === 0L)
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > sampleThreshold)
      .select(col("gh"))
    val tagged = grams.join(
      broadcast(hotGhs.withColumn("__hot", lit(true))), Seq("gh"), "left")
    val hotRows = tagged.filter(col("__hot").isNotNull)
    // Hot winners: tiny aggregation over hot occurrences only, then
    // everything but the broadcast winner is a dup — no window, so no
    // skewed sorted run exists anywhere. min(struct) picks the identical
    // row the window's (id, pos) order would keep.
    val hotWinners = hotRows
      .groupBy(col("gh"))
      .agg(min(struct(col("id"), col("pos"))).as("__w"))
    val hotDups = hotRows.join(broadcast(hotWinners), Seq("gh"))
      .filter(!(col("id") === col("__w.id") && col("pos") === col("__w.pos")))
      .select(col("id"), col("pos"))
    // Cold grams: the original per-hash window, partitions bounded at
    // ~hotGramCap rows w.h.p. (exactly, when hotSampleRate = 1).
    val coldDups = tagged
      .filter(col("__hot").isNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("gh")).orderBy(col("id"), col("pos"))))
      .filter(col("__rn") > 1)
      .select(col("id"), col("pos"))
    // Exchange the narrow (id, pos) dup rows by id BEFORE everything
    // downstream (the q139/LPA partial-agg lesson): hash(id) satisfies
    // the covered-position distinct, the island window (minMatchLen
    // path), the anti-join's clustering, AND the rebuild groupBy — one
    // raw exchange here replaces three aggregation/join exchanges, and
    // no downstream partial agg ever sees a scan-split-shaped
    // near-unique key stream (the sf100 spill source).
    val dups = coldDups.unionByName(hotDups).repartition(col("id"))
    // minMatchLen (Lee et al.'s ">= 50 tokens" knob): duplicated gram
    // positions whose covered token intervals overlap or abut coalesce
    // into one region ([first, last + spanLen - 1]); only regions of
    // >= minMatchLen tokens are excised, so isolated short repeats
    // survive. minMatchLen <= spanLen (the 0 default) keeps the
    // original every-dup-gram behavior AND plan (no extra window).
    // Regions are per-doc islands over the slim dup frame — a (doc)-
    // partitioned window + tiny agg, nothing corpus-sized.
    val covered =
      if (minMatchLen <= spanLen) {
        dups
          .select(col("id"),
            explode(sequence(col("pos"), col("pos") + (spanLen - 1))).as("tpos"))
          .distinct()
      } else {
        val byPos = Window.partitionBy(col("id")).orderBy(col("pos"))
        dups
          .withColumn("__brk",
            when(col("pos") - lag(col("pos"), 1).over(byPos) <= spanLen, 0)
              .otherwise(1))
          .withColumn("__isl", sum(col("__brk")).over(byPos))
          .groupBy(col("id"), col("__isl"))
          .agg(min(col("pos")).as("__s"),
            (max(col("pos")) + (spanLen - 1)).as("__e"))
          .filter(col("__e") - col("__s") + 1 >= minMatchLen)
          // islands are disjoint and non-abutting by construction — the
          // exploded positions are already distinct
          .select(col("id"),
            explode(sequence(col("__s"), col("__e"))).as("tpos"))
      }
    // Rebuild WITHOUT a token-volume shuffle (r11 verdict #2: the old
    // posexplode → anti-join → collect_list rebuild pushed the whole
    // corpus token stream through SMJ/window sort buffers — the ~100 GB
    // residual memory spill at sf100). Covered positions roll up to ONE
    // int array per AFFECTED doc (collect_list on resident hash(id)
    // partitions — the dups exchange above seeded the clustering, so no
    // new exchange, and the array is bounded by doc length); the spine
    // then joins doc-to-doc — shuffle HASH join, build side the
    // dup-affected docs only, so the corpus payload side is streamed,
    // never sorted — and the surviving text is rebuilt per row with
    // O(n_tokens) array kernels: kept positions = array_except(all
    // positions, covered) (order-preserving on its first argument),
    // tokens picked back by index. Unaffected docs (null __cov) keep
    // their token array untouched.
    val coveredPerDoc = covered.groupBy(col("id"))
      .agg(collect_list(col("tpos")).as("__cov"))
    val keptToks =
      when(col("__cov").isNull, col("__toks"))
        .otherwise(transform(
          array_except(sequence(lit(0), size(col("__toks")) - 1), col("__cov")),
          p => element_at(col("__toks"), p + 1)))
    spine.join(coveredPerDoc.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("n_tokens"), keptToks.as("__kept"))
      .select(col("id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("n_tokens") - size(col("__kept"))).as("n_removed"),
        array_join(col("__kept"), " ").as("text_dedup"))
  }

  /** Canonical-document selection per near-duplicate cluster: the keep
    * policy that upgrades keep-first dedup — close the pair graph into
    * clusters ([[nearDupRepresentatives]] connected components), then keep
    * the HIGHEST-`score` member of each cluster (ties to the lowest id),
    * so the surviving corpus keeps the best-quality copy of every
    * duplicated document rather than whichever came first.
    *
    * `docs` rows absent from `pairs` are singleton clusters of
    * themselves (kept). `score` must be non-null (coalesce upstream) —
    * null ordering inside the winner struct would be engine-delicate.
    * Output: (id, cluster, canonical_id, cluster_size, keep).
    *
    * Scale: the fixpoint is O(log diameter) checkpointed passes over
    * the pair graph only (clusters, not corpus); the winner aggregation
    * partial-aggregates per cluster; the final join shuffles on the
    * cluster key with no skew beyond true cluster size.
    */
  def selectCanonical(docs: DataFrame, idCol: String, score: Column,
      pairs: DataFrame): DataFrame = {
    val reps = nearDupRepresentatives(pairs)
    val base = docs.select(col(idCol).cast("long").as("id"),
      score.as("__score"))
    val labeled = base.join(reps, Seq("id"), "left")
      .select(col("id"), col("__score"),
        coalesce(col("rep"), col("id")).as("cluster"))
    val best = labeled.groupBy(col("cluster"))
      .agg(max(struct(col("__score"), (-col("id")).as("__negid"))).as("__w"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster"), (-col("__w.__negid")).as("canonical_id"),
        col("cluster_size"))
    labeled.join(best, Seq("cluster"))
      .select(col("id"), col("cluster"), col("canonical_id"),
        col("cluster_size"),
        (col("id") === col("canonical_id")).as("keep"))
  }

  /** Null token/line arrays (null text upstream) normalize to EMPTY at
    * the spine, so `size()`'s legacy -1 sentinel can never leak into
    * n_lines / n_tokens output (the explicit-null-gate convention this
    * file holds elsewhere).
    */
  private def emptyIfNull(arr: Column): Column =
    coalesce(arr, array().cast("array<string>"))

  /** Shared per-doc rebuild of the line-level passes ([[lineDedup]],
    * [[stripBoilerplate]], [[stripBoilerplateBySource]]): surviving
    * (id, pos, line) rows fold back to one row per doc in original
    * line order.
    */
  private def rebuildLines(kept: DataFrame, outCol: String): DataFrame =
    kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as(outCol))

  /** Corpus-wide exact LINE dedup, keep-first (the RefinedWeb/CCNet
    * repetition-removal pass): every distinct line survives exactly once,
    * at its first occurrence in (`idCol`, line position) order; later
    * occurrences — boilerplate headers, navigation chrome, license
    * blurbs — are dropped from their documents.
    *
    * Input: one row per doc with `linesCol: array<string>`. Output: one
    * row per doc — (id, n_lines, n_kept, text_dedup) with the surviving
    * lines rejoined by `\n` in original order (empty string when every
    * line of the doc lost).
    *
    * Shape: posexplode → groupBy(line).agg(min(struct(id, pos))) →
    * groupBy(id) rebuild → left join back to the doc spine. The winner
    * aggregation partial-aggregates map-side, so the first shuffle
    * carries one (line, winner) pair per distinct line per input
    * partition — on duplicate-heavy corpora that is a fraction of the
    * exploded rows; the rebuild shuffle carries only surviving lines.
    * Per-doc collect_list is bounded by document size. No window over
    * the full corpus, no driver-side state.
    */
  def lineDedup(df: DataFrame, idCol: String, linesCol: Column): DataFrame = {
    val spine = df.select(col(idCol).as("id"),
        emptyIfNull(linesCol).as("__lines"))
      .select(col("id"), col("__lines"),
        size(col("__lines")).cast("long").as("n_lines"))
    val occurrences = spine
      .select(col("id"), posexplode(col("__lines")).as(Seq("pos", "line")))
    val winners = occurrences
      .groupBy(col("line"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
      .select(col("w.id").as("id"), col("w.pos").as("pos"), col("line"))
    val rebuilt = rebuildLines(winners, "text_dedup")
    spine.select(col("id"), col("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    * k-means clusters the corpus (the [[IvfIndex]] coarse quantizer),
    * pairwise cosine runs ONLY within each cluster, and a vector is
    * dropped when an earlier vector (smaller id — deterministic, the
    * exact-dedup keep-min-id policy) in its cluster sits above `tau`.
    * Returns the per-cluster census (n_vecs, n_dropped, n_kept) — the
    * report a semantic-dedup pass signs off on.
    *
    * Scale shape — the paper's point: clustering bounds the pair space
    * to Σ nᵢ² over cells instead of n² corpus-wide; the within-cell
    * self-join is an equi-join on the cell id (shuffle-partitioned,
    * never a cross product), and at 100 TB the cell count scales with
    * the corpus so cells stay bounded. Zero-norm vectors cannot score
    * (cosine undefined) and are never dropped.
    *
    * FP stance = q52/q53: cosine compares against `tau` in double;
    * flips require a pair within ~1 ulp of `tau`, never observed
    * (gaps O(0.01)).
    */
  def semDedup(vecs: DataFrame, model: IvfIndex.Model,
      tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val a = IvfIndex.assign(vecs, model)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val dropped = a.as("x")
      .join(a.as("y"),
        col("x.cell") === col("y.cell") &&
          col("y.vec_id") < col("x.vec_id") &&
          col("x.nrm") > 0 && col("y.nrm") > 0)
      .filter(dotProduct(col("x.v"), col("y.v")) /
        (col("x.nrm") * col("y.nrm")) > tau)
      .select(col("x.vec_id").as("vec_id")).distinct()
      .withColumn("__drop", lit(1L))
    a.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(col("__drop")), lit(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
  }

  /** Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995),
    * blocked: records sort by a canonical-prefix key inside prefix
    * blocks, and only rows within `window` positions of each other in
    * that order are compared (distinct-token Jaccard ≥ `tau`) — the
    * classic record-linkage blocking alternative to LSH: no hashing, no
    * band explode, catches prefix-clustered variants (case/whitespace/
    * suffix edits) at O(n·window) pairs.
    *
    * Blocked variant: the neighborhood window runs WITHIN each
    * `blockLen`-char prefix block (Window.partitionBy(block)), so at
    * scale each block is an independent hash partition and no global
    * single-partition sort exists; pairs spanning a block boundary are
    * out of scope by construction (same rule in the oracle).
    *
    * Skewed-block insurance: a hot short prefix (think "the ") would
    * otherwise funnel one giant block into a single window partition —
    * the operator's documented failure mode. Block keys are LOW-
    * cardinality (≤ charset^blockLen), so an EXACT per-block census is
    * one cheap partial-aggregated pass; blocks over `maxBlockRows`
    * re-key to the longer `splitLen`-char prefix (default blockLen+2,
    * capped at prefixLen), bounding each window partition while cold
    * blocks keep the original neighborhood. Sub-block boundaries apply
    * the SAME out-of-scope rule as block boundaries, and the oracle
    * replays the census + re-key exactly. Floor: rows sharing the full
    * splitLen prefix cannot split further — at that point widen
    * prefixLen (the sort key itself is the last resolvable order).
    *
    * Determinism: (key, id) is a total order per block; the lead()
    * neighborhood, the distinct-token arrays (sorted), and the integer
    * intersection/union counts are all exact, so the rounded Jaccard and
    * the ≥ tau cut replay bit-identically in SQL.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 12, blockLen: Int = 2, window: Int = 3,
      tau: Double = 0.5, maxBlockRows: Long = 1L << 16,
      splitLen: Int = 0): DataFrame = {
    require(window >= 2 && window <= 16, s"window in [2,16], got $window")
    require(blockLen >= 1 && blockLen <= prefixLen,
      s"blockLen in [1, prefixLen], got $blockLen")
    require(maxBlockRows >= 1, s"maxBlockRows must be >= 1, got $maxBlockRows")
    val sl = math.min(prefixLen,
      if (splitLen > 0) math.max(splitLen, blockLen) else blockLen + 2)
    val base = df.select(col(idCol).as("id"),
        canonicalText(col(textCol)).as("__canon"),
        array_sort(array_distinct(tokens(col(textCol)))).as("__toks"))
      .withColumn("__key", substring(col("__canon"), 1, prefixLen))
      .withColumn("__blk0", substring(col("__canon"), 1, blockLen))
    val hotBlocks = base.groupBy(col("__blk0"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockRows)
      .select(col("__blk0"), lit(true).as("__hot"))
    val keyed = base.join(broadcast(hotBlocks), Seq("__blk0"), "left")
      .withColumn("__blk", when(col("__hot").isNotNull,
        substring(col("__canon"), 1, sl)).otherwise(col("__blk0")))
    val w = Window.partitionBy(col("__blk")).orderBy(col("__key"), col("id"))
    val neighbors = array((1 until window).map(j =>
      lead(struct(col("id").as("nid"), col("__toks").as("ntoks")), j)
        .over(w)): _*)
    keyed.withColumn("__nbs", neighbors)
      .withColumn("__nb", explode(col("__nbs")))
      .filter(col("__nb").isNotNull)
      .select(col("id").as("id_a"), col("__nb.nid").as("id_b"),
        col("__toks").as("__ta"), col("__nb.ntoks").as("__tb"))
      .withColumn("__i", size(array_intersect(col("__ta"), col("__tb")))
        .cast("long"))
      .withColumn("__u",
        size(col("__ta")).cast("long") + size(col("__tb")) - col("__i"))
      .filter(col("__u") > 0L)
      .withColumn("jaccard",
        round(col("__i").cast("double") / col("__u").cast("double"), 4))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Fellegi-Sunter probabilistic record linkage over blocked candidate
    * pairs: each field f has match/unmatch agreement probabilities
    * (m_f, u_f); a pair scores Σ_f [agree ? ln(m_f/u_f) :
    * ln((1−m_f)/(1−u_f))] — the classic log-likelihood-ratio weights
    * (Fellegi & Sunter, JASA 1969). Pairs share a block key (the
    * [[blockedSortedNeighborhood]] stance: candidate count is governed
    * by block sizes, never n²); agreement is null-safe equality on the
    * caller's derived field expressions. Top-k by (score DESC, id_a,
    * id_b) above `threshold`.
    *
    * Bit-exact: the per-field weights are Scala-side double constants
    * (shortest-repr-shared with the oracle), and a pair's score is
    * their fixed-order sum — the same IEEE sequence on both engines.
    *
    * @param fields (name, derived-field expression, m, u) per compared
    *               field; 0 < u < m < 1
    */
  def linkageScores(df: DataFrame, idCol: String, blockCol: Column,
      fields: Seq[(String, Column, Double, Double)], threshold: Double,
      k: Int = 50): DataFrame = {
    require(fields.nonEmpty, "linkage needs at least one field")
    require(fields.forall { case (_, _, m, u) => u > 0 && u < m && m < 1 },
      "each field needs 0 < u < m < 1")
    val proj = df.select(
      Seq(col(idCol).as("id"), blockCol.as("blk")) ++
        fields.zipWithIndex.map { case ((_, e, _, _), i) => e.as(s"f$i") }: _*)
    val a = proj.columns.foldLeft(proj)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = proj.columns.foldLeft(proj)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val pairs = a.join(b,
      col("a_blk") === col("b_blk") && col("a_id") < col("b_id"))
    val agreeFlags = fields.indices.map(i =>
      col(s"a_f$i") <=> col(s"b_f$i"))
    val score = fields.zipWithIndex.map { case ((_, _, m, u), i) =>
      when(agreeFlags(i), lit(math.log(m / u)))
        .otherwise(lit(math.log((1 - m) / (1 - u))))
    }.reduce(_ + _)
    val nAgree = agreeFlags.map(f => when(f, 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        nAgree.as("n_agree"), score.as("__score"))
      .filter(col("__score") >= threshold)
      .orderBy(col("__score").desc, col("id_a"), col("id_b"))
      .limit(k)
      .select(col("id_a"), col("id_b"), col("n_agree"),
        round(col("__score"), 4).as("score"))
  }
  /** MinHash calibration audit — how well does the k-component MinHash
    * Jaccard ESTIMATE track the exact shingle-set Jaccard, binned by
    * estimate? The "trust the sketch" report that should gate any move
    * of a dedup threshold from exact reranking onto raw signatures
    * (the estimator's std error is √(J(1−J)/k) ≈ 0.12 at k = 16 — this
    * audit shows where that bites on the REAL corpus, not in theory).
    *
    * Pairs are a deterministic id-lattice sample — (id, id + step) for
    * each `steps` entry — spanning the similarity range without an
    * O(n²) pair join. Per estimate-decile: pair count, mean estimate,
    * mean exact Jaccard, and mean |estimate − exact| (MAE).
    *
    * Determinism: estimates are exact multiples of 1/k (binary-exact
    * doubles; DECIMAL sums exact); exact Jaccards and absolute errors
    * round 6dp before their DECIMAL folds. Signature equality is
    * integer compare.
    *
    * Scale: signatures are one narrow pass; each step contributes one
    * equi-join on the id lattice (shuffle on id — no candidate
    * explosion); the audit frame is |steps|·n pairs of narrow columns.
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16,
      steps: Seq[Long] = Seq(1L, 7L, 50L), bins: Int = 10): DataFrame = {
    require(steps.nonEmpty && bins >= 1)
    val featured = df
      .select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleSize)
      .select(col("id"), wordShinglesOf(col("toks"), shingleSize).as("feats"))
      .withColumn("sig", minHashSignature(col("feats"), numHashes))
      .localCheckpoint(true)
    val a = featured.select(col("id").as("ia"), col("feats").as("fa"),
      col("sig").as("sa"))
    val b = featured.select(col("id").as("ib"), col("feats").as("fb"),
      col("sig").as("sb"))
    val pairs = steps.map { s =>
      a.withColumn("__ib", col("ia") + lit(s)).join(b, col("__ib") === col("ib"))
    }.reduce(_ unionAll _)
    val matches = aggregate(
      zip_with(col("sa"), col("sb"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val est = matches.cast("double") / lit(numHashes.toDouble)
    val exact = size(array_intersect(col("fa"), col("fb"))).cast("double") /
      size(array_union(col("fa"), col("fb"))).cast("double")
    val scored = pairs.select(est.as("__e"), exact.as("__j"))
      .withColumn("__bin",
        least(floor(col("__e") * bins), lit(bins - 1L)).cast("bigint"))
    scored.groupBy(col("__bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__e").cast("decimal(18,6)")).cast("decimal(38,6)")
          .as("__se"),
        sum(round(col("__j"), 6).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("__sj"),
        sum(round(abs(col("__e") - col("__j")), 6).cast("decimal(18,6)"))
          .cast("decimal(38,6)").as("__sd"))
      .select(col("__bin").as("bin"), col("n_pairs"),
        round(col("__se").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mean_estimate"),
        round(col("__sj").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mean_exact"),
        round(col("__sd").cast("double") / col("n_pairs").cast("double"), 4)
          .as("mae"))
  }

}
