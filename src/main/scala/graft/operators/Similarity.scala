package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale design:
  *  - `bruteForceTopK` broadcasts the (small) probe set and scans the corpus
  *    once — O(corpus × probes) dot products, no shuffle of the corpus, then
  *    a per-probe top-k window over only the scored rows. This is the exact
  *    baseline ANN implementations are judged against.
  *  - `bandedLshTopK` buckets corpus + probes by banded random-hyperplane
  *    signatures and joins band-locally, so the candidate set per probe is
  *    a few buckets instead of the full cross product. Hyperplanes are
  *    seeded → fully deterministic.
  *  - The IVF variants (k-means coarse quantizer, [[IvfIndex]]/[[IvfAdc]])
  *    are the next scale step; LSH needs no training pass.
  */
object Similarity {

  /** Stage (id, double-vector, norm) with the norm computed ONCE per row —
    * computing cosine as `cosineSimilarity(a, b)` inside a pairwise join
    * re-evaluates both norms for every pair. The filter between the
    * projections drops zero-norm vectors (cosine undefined) and keeps
    * CollapseProject from re-inlining the vector cast.
    */
  private[operators] def withNorm(df: DataFrame, idOut: String, vecOut: String,
      normOut: String): DataFrame =
    df.select(col("vec_id").as(idOut), toDouble(col("embedding")).as(vecOut))
      .withColumn(normOut, l2Norm(col(vecOut)))
      .filter(col(normOut) > 0)

  /** cos = dot / (|a|·|b|) over staged norms — same arithmetic shape as
    * the textbook formula (and DuckDB's list_cosine_similarity), so
    * results stay bit-identical to the oracle.
    */
  private[operators] def pairCosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    dotProduct(va, vb) / (na * nb)

  /** Exact cosine top-k per probe. `probes` must be small (it is collected
    * into a broadcast join); corpus is scanned once, never shuffled.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus, "corpus_id", "c_vec", "c_nrm")
    val p = withNorm(probes, "probe_id", "p_vec", "p_nrm")
    val scored = c.join(broadcast(p), col("corpus_id") =!= col("probe_id"))
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** Exact squared-L2 top-k per probe — the distance-metric twin of
    * [[bruteForceTopK]] (same shape: probes broadcast, corpus scanned
    * once, bounded per-probe window). The exact baseline for the
    * L2-metric ANN paths (IVFADC / PQ), whose ADC distances approximate
    * squared L2, so their recall contracts compare like with like.
    */
  def bruteForceTopKL2(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("corpus_id"),
      toDouble(col("embedding")).as("c_vec"))
      .filter(col("c_vec").isNotNull)
    val p = probes.select(col("vec_id").as("probe_id"),
      toDouble(col("embedding")).as("p_vec"))
      .filter(col("p_vec").isNotNull)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist"), col("corpus_id"))
    c.join(broadcast(p), col("corpus_id") =!= col("probe_id"))
      .withColumn("dist", squaredL2Distance(col("c_vec"), col("p_vec")))
      // a NULL distance (dim-mismatched pair) sorts NULLS FIRST in the
      // ascending rank and would displace every real neighbor — the
      // cosine twin's withNorm filter, restated for the L2 metric
      .filter(col("dist").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("corpus_id"), col("dist"), col("rank"))
  }

  /** Hard-negative mining for contrastive training (the in-batch-negative
    * upgrade): for each probe, the top-k most-similar corpus vectors with
    * a DIFFERENT label — maximally confusable cross-class examples. Same
    * scale shape as [[bruteForceTopK]] (probes broadcast, corpus scanned
    * once, per-probe bounded window), plus the label-mismatch predicate
    * in the join condition so same-class rows never materialize.
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, labelCol: String,
      k: Int): DataFrame = {
    def withNormAndLabel(df: DataFrame, idOut: String, labelOut: String,
        vecOut: String, normOut: String): DataFrame =
      df.select(col("vec_id").as(idOut), col(labelCol).as(labelOut),
        toDouble(col("embedding")).as(vecOut))
        .withColumn(normOut, l2Norm(col(vecOut)))
        .filter(col(normOut) > 0)
    val c = withNormAndLabel(corpus, "corpus_id", "c_label", "c_vec", "c_nrm")
    val p = withNormAndLabel(probes, "probe_id", "p_label", "p_vec", "p_nrm")
    val scored = c.join(broadcast(p),
        col("corpus_id") =!= col("probe_id") &&
          col("c_label") =!= col("p_label"))
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("p_label"), col("corpus_id"),
        col("c_label"), col("cosine"), col("rank"))
  }

  /** Symmetric int8 quantization audit — the third compression lane
    * next to PQ (32×, q146/q153) and random projection (dim-reduction,
    * q280): each vector quantizes with its own scale = max|v|/127,
    * components round-and-clamp to [-127, 127], and the audit reports
    * the per-vector relative L2 reconstruction error plus the worst
    * single-component error — the decide-int8-or-not numbers before
    * re-encoding a fleet-sized embedding store at 4× smaller.
    * Zero-norm vectors carry no information to quantize and are
    * excluded (the [[withNorm]] convention). Pure per-row column
    * program, zero shuffle; every FP step (max, divide, round, clamp,
    * ordered squared-error folds) replays bit-identically in SQL.
    */
  def int8QuantAudit(corpus: DataFrame): DataFrame = {
    val staged = withNorm(corpus, "vec_id", "v", "nrm")
      .withColumn("__mx", aggregate(transform(col("v"), x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)))
      .filter(col("__mx") > 0)
      .withColumn("__scale", col("__mx") / 127.0)
      .withColumn("__dq", transform(col("v"), x =>
        greatest(lit(-127.0), least(lit(127.0),
          round(x / col("__scale")))) * col("__scale")))
      .withColumn("__diff",
        zip_with(col("v"), col("__dq"), (a, b) => a - b))
    staged.select(col("vec_id"),
      round(sqrt(aggregate(transform(col("__diff"), x => x * x),
        lit(0.0), (a, x) => a + x)) / col("nrm"), 4).as("rel_err"),
      round(aggregate(transform(col("__diff"), x => abs(x)),
        lit(0.0), (a, x) => greatest(a, x)), 4).as("max_comp_err"))
  }

  /** int8 brute-force top-k — the SEARCH path over
    * [[int8QuantAudit]]'s encoding: both sides quantize per-vector
    * (scale = max|v|/127), similarity scores as the EXACT integer code
    * dot product rescaled by the two scales and norms — a 4×-smaller
    * scan whose inner loop is int8×int8 adds (the SIMD-friendly shape
    * accelerators run). Same broadcast-probes/corpus-scanned-once
    * contract as [[bruteForceTopK]]; q288 is the precision audit that
    * justifies the encoding, this is the query path that cashes it.
    * The integer dot is order-independent by construction, so ranking
    * is deterministic with the (score DESC, corpus_id) tie-break.
    */
  def int8TopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    def quant(df: DataFrame, pre: String): DataFrame =
      withNorm(df, s"${pre}_id", s"${pre}_v", s"${pre}_nrm")
        .withColumn(s"${pre}_mx",
          aggregate(transform(col(s"${pre}_v"), x => abs(x)),
            lit(0.0), (a, x) => greatest(a, x)))
        .filter(col(s"${pre}_mx") > 0)
        .withColumn(s"${pre}_sc", col(s"${pre}_mx") / 127.0)
        .withColumn(s"${pre}_q", transform(col(s"${pre}_v"), x =>
          greatest(lit(-127.0), least(lit(127.0),
            round(x / col(s"${pre}_sc"))))))
        .select(col(s"${pre}_id"), col(s"${pre}_q"),
          col(s"${pre}_sc"), col(s"${pre}_nrm"))
    val c = quant(corpus, "c")
    val p = quant(probes, "p")
    val scored = c.join(broadcast(p), col("c_id") =!= col("p_id"))
      .withColumn("__qdot",
        aggregate(zip_with(col("c_q"), col("p_q"), (a, b) => a * b),
          lit(0.0), (a, x) => a + x))
      .withColumn("__qcos", col("__qdot") * col("c_sc") * col("p_sc") /
        (col("c_nrm") * col("p_nrm")))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("__qcos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("corpus_id"),
        round(col("__qcos"), 4).as("qcos"), col("rank"))
  }

  /** Sign bits of a double-array column packed 32 dims per long: word
    * w carries dims [32w, 32w+31], bit b set iff v[32w+b] ≥ 0. Past-end
    * dims within the LAST word read NULL (non-ANSI element_at) → bit 0,
    * so a 60-dim vector's word-1 tail bits are zero. Vectors must share
    * ONE dimensionality (the whole-index contract): differing WORD
    * counts make the zip_with hamming NULL (which would flood an
    * ascending screen via NULLS FIRST), and the downstream exact-cosine
    * rerank's dot kernel throws on any dim mismatch regardless — there
    * is no cross-dim tolerance anywhere on this path. Shared by
    * [[binaryHammingTopK]] and the persisted index's `sigs` table.
    */
  private[operators] def signPackExpr(v: Column): Column =
    transform(sequence(lit(0), floor((size(v) - 1) / 32).cast("int")),
      w => aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, b) => acc + when(
          coalesce(element_at(v, (w * 32 + b + 1).cast("int")) >= 0,
            lit(false)),
          call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))))

  /** Σ popcount(xor) over two packed-sign arrays — the binary-screen
    * distance ([[signPackExpr]] packing).
    */
  private[operators] def packedHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** 1-bit (sign) quantization + Hamming top-k with exact rerank — the
    * last rung of the compression ladder below [[int8TopK]]: each
    * dimension keeps only its SIGN, packed 32 dims per long, so a
    * 64-dim float vector becomes two longs (32× smaller than float32,
    * 8× below int8) and the scan's inner loop is XOR + popcount — the
    * binary-quantization shape modern vector stores serve billion-row
    * collections with. Hamming distance on sign bits estimates the
    * angle (E[hamming]/dim = θ/π, the same SimHash identity as
    * [[graft.operators.Dedup.simHashNearDups]]), so the binary scan
    * ranks WELL but not exactly — the standard remedy, applied here, is
    * to over-fetch `rerank`·k binary candidates per probe and re-score
    * just those with exact float cosine. Contract matches
    * [[bruteForceTopK]]: probes broadcast, corpus scanned once,
    * per-probe bounded windows; both stages' ties break on corpus_id so
    * results are deterministic and oracle-replayable.
    *
    * At 100 TB the win is the scan payload: the 8 B/vector signature
    * column can live hot (RAM/flash) with the float vectors cold —
    * only the ≤ rerank·k survivors per probe ever read floats.
    */
  def binaryHammingTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      rerank: Int = 4): DataFrame = {
    def signPack(df: DataFrame, pre: String): DataFrame =
      withNorm(df, s"${pre}_id", s"${pre}_v", s"${pre}_nrm")
        .withColumn(s"${pre}_sig", signPackExpr(col(s"${pre}_v")))
    val c = signPack(corpus, "c")
    val p = signPack(probes, "p")
    val hammed = c.join(broadcast(p), col("c_id") =!= col("p_id"))
      .withColumn("hamming", packedHamming(col("c_sig"), col("p_sig")))
    val wBin = Window.partitionBy(col("p_id"))
      .orderBy(col("hamming"), col("c_id"))
    val wExact = Window.partitionBy(col("p_id"))
      .orderBy(col("__cos").desc, col("c_id"))
    hammed
      .withColumn("__brank", row_number().over(wBin))
      .filter(col("__brank") <= k * rerank)
      .withColumn("__cos",
        pairCosine(col("c_v"), col("p_v"), col("c_nrm"), col("p_nrm")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("p_id").as("probe_id"), col("c_id").as("corpus_id"),
        col("hamming"), round(col("__cos"), 4).as("cosine"), col("rank"))
  }

  /** k-NN label-agreement audit — the standard label-noise detector
    * (Confident-Learning-style neighborhood check): per probe, the
    * fraction of its exact top-`k` cosine neighbors sharing its label.
    * A labeled sample whose neighborhood disagrees (agreement ≪ 1) is
    * the review-queue candidate — mislabeled, or sitting on a class
    * boundary. Same scale shape as [[bruteForceTopK]] (probes
    * broadcast, corpus scanned once, per-probe bounded window); run the
    * corpus-wide version through the banded/IVF candidate generators.
    */
  def knnLabelAgreement(corpus: DataFrame, probes: DataFrame,
      labelCol: String, k: Int): DataFrame = {
    def staged(df: DataFrame, idOut: String, labelOut: String,
        vecOut: String, normOut: String): DataFrame =
      df.select(col("vec_id").as(idOut), col(labelCol).as(labelOut),
        toDouble(col("embedding")).as(vecOut))
        .withColumn(normOut, l2Norm(col(vecOut)))
        .filter(col(normOut) > 0)
    val c = staged(corpus, "corpus_id", "c_label", "c_vec", "c_nrm")
    val p = staged(probes, "probe_id", "label", "p_vec", "p_nrm")
    val scored = c.join(broadcast(p), col("corpus_id") =!= col("probe_id"))
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("agreement",
        round(col("n_same").cast("double") / col("k").cast("double"), 4))
  }

  /** All pairs (a < b) with cosine ≥ threshold — the set-shaped exact
    * output used by the DuckDB oracle (no top-k order sensitivity).
    * O(n²) — keep for oracle/test scale; LSH is the scale path.
    */
  def thresholdPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(corpus, "id_a", "vec_a", "nrm_a")
    val b = withNorm(corpus, "id_b", "vec_b", "nrm_b")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        pairCosine(col("vec_a"), col("vec_b"), col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= lit(threshold))
      .select("id_a", "id_b", "cosine")
  }

  /** Deterministic seeded gaussian hyperplanes. */
  def randomHyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson-Lindenstrauss distortion audit: project every vector onto
    * `outDim` seeded gaussian hyperplanes (a dim→outDim random
    * projection — the dimensionality-reduction step run before shipping
    * embeddings into an ANN index whose cost scales with dim) and
    * measure, per probe, how far pairwise COSINES drift between the
    * original and projected spaces: exact max plus a
    * deterministic mean (per-pair error pre-rounded to 6dp and summed
    * as DECIMAL — identical on any partitioning and in the oracle), and
    * a `within_eps` contract at 3/√outDim (the JL variance scale for
    * gaussian projections; q33's error-bound-contract convention).
    *
    * Scale: the projection is outDim per-row dot products (narrow, no
    * shuffle); probes broadcast; the corpus is scanned once. The audit
    * decides whether outDim is survivable BEFORE re-encoding the fleet.
    */
  def jlDistortionAudit(corpus: DataFrame, probes: DataFrame,
      outDim: Int = 16, dim: Int = 64, seed: Long = 7L): DataFrame = {
    require(outDim >= 2 && outDim < dim,
      s"outDim in [2, dim), got $outDim for dim $dim")
    val planes = randomHyperplanes(outDim, dim, seed)
    def project(v: Column): Column =
      array(planes.map(p => dotProduct(v, lit(p))): _*)
    def staged(df: DataFrame, idOut: String, pre: String): DataFrame =
      withNorm(df, idOut, s"${pre}_vec", s"${pre}_nrm")
        .withColumn(s"${pre}_proj", project(col(s"${pre}_vec")))
        .withColumn(s"${pre}_pnrm", l2Norm(col(s"${pre}_proj")))
        .filter(col(s"${pre}_pnrm") > 0)
    val c = staged(corpus, "corpus_id", "c")
    val p = staged(probes, "probe_id", "p")
    val pairs = c.join(broadcast(p), col("corpus_id") =!= col("probe_id"))
      .withColumn("__err", abs(
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")) -
          pairCosine(col("c_proj"), col("p_proj"),
            col("c_pnrm"), col("p_pnrm"))))
    pairs.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_pairs"),
        round(max(col("__err")), 4).as("max_abs_err"),
        round(sum(round(col("__err"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1)), 4).as("mean_abs_err"))
      .withColumn("within_eps",
        col("max_abs_err") <= lit(3.0 / math.sqrt(outDim.toDouble)))
  }

  /** Banded (band, key) rows for each id: band `b`'s key is the sign
    * bits of ITS OWN `planesPerBand` hyperplanes, sliced from one
    * seeded plane stream. For numBands × planesPerBand ≤ 63 this is
    * bit-identical to the original packed-single-signature formulation
    * (bit i of band b = plane b·p+i either way — the oracle SQL replays
    * that form), but per-band signatures remove the 63-bit TOTAL cap:
    * selectivity can now scale with corpus size (planesPerBand up to 63
    * per band — 2^p buckets per band bounds candidates at corpus/2^p
    * per probe band), which one packed long could never express beyond
    * 15×4. That cap was the measured q34 scale ceiling: 4-bit keys ⇒
    * corpus/16 candidates per band, linear in corpus. The narrow
    * currency of every banded-LSH join here.
    */
  private[operators] def bandKeys(df: DataFrame, idOut: String,
      numBands: Int, planesPerBand: Int, dim: Int, seed: Long): DataFrame =
    bandKeysStaged(withNorm(df, idOut, "__vec", "__nrm"), idOut, "__vec",
      numBands, planesPerBand, dim, seed)

  /** [[bandKeys]] over an ALREADY-staged `(id, vec)` frame (withNorm's
    * output or the persisted `vecs` table read back) — the index
    * build/append path, which must not re-scan the raw corpus just to
    * recompute signatures the staged vectors already determine.
    */
  private[operators] def bandKeysStaged(df: DataFrame, idCol: String,
      vecCol: String, numBands: Int, planesPerBand: Int, dim: Int,
      seed: Long): DataFrame = {
    require(planesPerBand >= 1 && planesPerBand <= 63,
      "1..63 hyperplanes per band signature")
    val planes = randomHyperplanes(numBands * planesPerBand, dim, seed)
    df.select(col(idCol), explode(array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        hyperplaneSignature(col(vecCol),
          planes.slice(b * planesPerBand, (b + 1) * planesPerBand))
          .as("key"))
    }: _*)).as("bk"))
  }

  /** Banded (OR-construction) hyperplane LSH top-k — the recall fix for
    * LOW-cosine neighbors, where a single signature cannot work: at
    * cosine 0.4 two vectors agree per plane with p ≈ 0.63, so one 8-bit
    * signature collides with P ≈ p^8 ≈ 2% (recall ~0.1 even with
    * hamming-1 multiprobe — measured), while ANY of 15 independent 4-bit
    * bands collides with P = 1-(1-p^4)^15 ≈ 0.92 (MMDS ch.3 banding, same
    * construction as MinHash LSH; 15×4 = 60 of the 63 packable bits).
    *
    * Candidates form NARROW — the per-band join carries only
    * (band-key, id); vectors join back for the exact rerank on the few
    * surviving distinct pairs. Each corpus row emits `numBands` 8-byte
    * keys (no payload replication), so the shuffle is bands × 16 B/row.
    * planesPerBand ≤ 63 per band (per-band signatures since r12; the
    * old 63-bit TOTAL cap is gone, so selectivity scales with corpus).
    */
  def bandedLshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // r13: the corpus feeds two plan branches (signature build and the
    // exact rerank) — unstaged, the parquet scan + float decode + norm
    // ran twice (the q29 featured-frame shape; same lazy-checkpoint
    // discipline). Band keys derive from the staged vectors via
    // bandKeysStaged, so the raw corpus is scanned exactly once.
    val c = withNorm(corpus, "corpus_id", "c_vec", "c_nrm")
      .localCheckpoint(false)
    val cand = bandKeysStaged(c, "corpus_id", "c_vec",
        numBands, planesPerBand, dim, seed)
      .select(col("corpus_id"), col("bk"))
      .join(bandKeys(probes, "probe_id", numBands, planesPerBand, dim, seed), Seq("bk"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .select("probe_id", "corpus_id").distinct()
    val p = withNorm(probes, "probe_id", "p_vec", "p_nrm")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    // shuffle-hash: the corpus-dependent candidate side STREAMS; an SMJ
    // would external-sort it per partition (the measured q260 residual-
    // spill shape), while the vecs build map is |corpus|/partitions rows
    cand.join(c.hint("shuffle_hash"), "corpus_id").join(p, "probe_id")
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
      .select(col("probe_id"), col("corpus_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist the banded-LSH layout as a FUSED-band-key-PARTITIONED
    * parquet index — the serving path for [[bandedLshTopK]], which
    * otherwise recomputes every corpus signature per query (the one ANN
    * lane that had no persisted variant until r8). Layout:
    *   path/meta   — one row (num_bands, planes_per_band, dim, seed)
    *   path/bands  — (id) rows under bk=<band·2³²+key> directories
    *                 (ONE fused partition column — see [[fusedBandKey]]
    *                 for why two-column (band, key) partitioning defeats
    *                 dynamic partition pruning)
    *   path/vecs   — (id, v, nrm) for the exact rerank
    * A probe emits `numBands` fused keys, so a probe batch scans at
    * most |probes| × numBands of the numBands × 2^planesPerBand
    * partition directories — candidate generation prunes at the SCAN,
    * no signature computation, no corpus shuffle. With the default 15×4
    * banding that is 240 directories; at 100 TB each holds ~corpus/240
    * narrow 8 B id rows, and the vecs table is only read for the few
    * surviving rerank candidates.
    */
  def writeLshIndex(corpus: DataFrame, path: String,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): Unit = {
    // the fused partition key reserves the low 32 bits for the band key
    require(planesPerBand <= 32,
      "persisted layout packs the band key into 32 fused-key bits")
    val spark = corpus.sparkSession
    // the RAW corpus (at 100 TB, a wide table the embedding column
    // rides in) is scanned exactly once — the vecs write; bands and
    // sigs derive from reading back the compact (id, v, nrm) parquet
    withNorm(corpus, "id", "v", "nrm")
      .write.mode("overwrite").parquet(s"$path/vecs")
    val vecs = spark.read.parquet(s"$path/vecs")
    bandKeysStaged(vecs, "id", "v", numBands, planesPerBand, dim, seed)
      .select(col("id"), fusedBandKey(col("bk.band"), col("bk.key")).as("bk"))
      .withColumn("pb", dirBucket(col("bk")))
      // cluster by the dir bucket so each directory is written by one
      // task (one file per dir), and sort by bk within so parquet
      // min/max stats make in-directory row-group skipping exact
      .repartition(col("pb")).sortWithinPartitions(col("bk"))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(s"$path/bands")
    // 8 B/vector (dim 64) packed sign bits for the binary-screen rerank
    // stage ([[bandedLshTopKFromIndexScreened]]): the candidate join
    // can consume THIS table instead of the ~dim×4 B float vectors,
    // deferring the float read to the ≤ rerank·k screen survivors
    vecs.select(col("id"), signPackExpr(col("v")).as("sig"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    import spark.implicits._
    Seq((numBands, planesPerBand, dim, seed))
      .toDF("num_bands", "planes_per_band", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The persisted layout's fused join key: band ⊕ key in one 64-bit
    * value (band in the high 32 bits). Joining on the FUSED key — rather
    * than on (band, key) as two columns — is what makes dynamic
    * partition pruning effective: column-wise DPP builds independent
    * IN-lists per partition column, and since a probe batch touches
    * every band and (with a small planesPerBand) nearly every key
    * VALUE, `band IN (…) AND key IN (…)` degenerates to the full cross
    * product — measured at sf100: the whole 30M-row bands table scanned
    * for a 5-probe query. The fused key makes the probe's (band, key)
    * PAIR set the pruning predicate.
    */
  private[operators] def fusedBandKey(band: Column, key: Column): Column =
    band.cast("long") * lit(4294967296L) + key.cast("long")

  /** Directory bucket for a fused key: the PHYSICAL partition column.
    * Partitioning directly by `bk` explodes at wide keys — 15 bands ×
    * 12-bit keys is 61k Hive directories, and an unclustered dynamic-
    * partition write opens (tasks × directories) tiny files (measured:
    * the sf100 build stalled mid-write). Hashing `bk` into a FIXED
    * `LshDirBuckets` directories bounds the filesystem shape at ANY
    * planesPerBand, while the probe side derives the same bucket, so
    * DPP still prunes to ≤ |probes| × numBands directories; within a
    * directory, parquet min/max stats on the stored `bk` column skip
    * non-matching row groups, and the (pb, bk) equi-join keeps exact
    * pair semantics.
    */
  private[operators] val LshDirBuckets = 1024
  private[operators] def dirBucket(bk: Column): Column =
    pmod(xxhash64(bk), lit(LshDirBuckets.toLong))

  /** Multi-probe key expansion (Lv et al. VLDB'07): the probe-side key
    * set for one band — the key itself, plus (at `flips` = 1) every key
    * at Hamming distance 1 from it. Flipping the signature's least-
    * certain bits recovers the candidates a near-boundary hyperplane
    * vote loses, so RECALL is bought at probe time with extra bucket
    * reads instead of at build time with more bands or fewer planes —
    * the knob that lets a growing corpus raise `planesPerBand` (each
    * +1 bit halves candidates per band) without rebuilding wider. This
    * deterministic level-1 variant probes ALL single-bit flips
    * (planesPerBand + 1 keys per band): per-band candidate recall for
    * per-plane agreement p rises from p^r to p^r + r·p^(r−1)(1−p),
    * while candidate volume stays (r+1)/2^r of the corpus per band —
    * at r = 12, 13/4096 ≈ 0.3% vs the 4-bit default's 6.25%.
    */
  private[operators] def multiProbeKeys(key: Column, planesPerBand: Int,
      flips: Int): Column = {
    require(flips >= 0 && flips <= 1, "probeFlips: 0 (exact) or 1 (±1 bit)")
    if (flips == 0) array(key)
    else array((Seq(lit(0L)) ++
      (0 until planesPerBand).map(j => lit(1L << j)))
      .map(f => key.bitwiseXOR(f)): _*)
  }

  private[operators] case class LshMeta(numBands: Int, planesPerBand: Int,
    dim: Int, seed: Long)

  private[operators] def loadLshMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): LshMeta = {
    val r = spark.read.parquet(s"$path/meta").head()
    LshMeta(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
  }

  /** Incremental maintenance: band-key the NEW vectors with the STORED
    * plane parameters (frozen model — the IVF/BM25 maintenance
    * contract) and append into the (band, key) partitions. Probes then
    * see one unified layout, bit-identical to a one-shot build over the
    * full corpus (partitions are plain directories; append adds files,
    * never rewrites). New ids must be NEW.
    */
  def appendToLshIndex(newVecs: DataFrame, path: String): Unit = {
    val m = loadLshMeta(newVecs.sparkSession, path)
    // fail FAST on a pre-`sigs` layout: appending sigs for only the new
    // vectors would leave the table silently partial, and the screened
    // probe's inner candidate⋈sigs join would then DROP every old-corpus
    // candidate — rebuild (or back-fill sigs) before growing the index.
    // Hadoop FS API, not java.io: the index path may be an object store
    // or HDFS, where a local-file check would silently pass.
    val hadoopConf = newVecs.sparkSession.sparkContext.hadoopConfiguration
    def layoutHas(part: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$part")
      p.getFileSystem(hadoopConf).exists(p)
    }
    require(layoutHas("sigs") || !layoutHas("vecs"),
      s"$path has vecs but no sigs (pre-sign-screen layout); " +
        "rebuild with writeLshIndex before appending")
    // materialize the increment ONCE (a read-back of $path/vecs would
    // see the old corpus too, so the write-then-derive trick the full
    // build uses doesn't apply here); the checkpoint is increment-sized
    // and released as soon as the three appends land
    Stage.using(withNorm(newVecs, "id", "v", "nrm")) { staged =>
      bandKeysStaged(staged, "id", "v",
          m.numBands, m.planesPerBand, m.dim, m.seed)
        .select(col("id"),
          fusedBandKey(col("bk.band"), col("bk.key")).as("bk"))
        .withColumn("pb", dirBucket(col("bk")))
        .repartition(col("pb")).sortWithinPartitions(col("bk"))
        .write.mode("append").partitionBy("pb")
        .parquet(s"$path/bands")
      staged.write.mode("append").parquet(s"$path/vecs")
      staged.select(col("id"), signPackExpr(col("v")).as("sig"))
        .write.mode("append").parquet(s"$path/sigs")
    }
  }

  /** Candidate pairs (probe_id, corpus_id) from a persisted LSH layout:
    * the broadcast + DPP pruned band-partition join shared by
    * [[bandedLshTopKFromIndex]] and the sign-screened variant.
    */
  private def indexCandidates(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, m: LshMeta,
      probeFlips: Int): DataFrame = {
    val probeKeyRows = bandKeys(probes, "probe_id", m.numBands,
      m.planesPerBand, m.dim, m.seed)
      .select(col("probe_id"), col("bk.band").as("__band"),
        explode(multiProbeKeys(col("bk.key"), m.planesPerBand, probeFlips))
          .as("__key"))
      .select(col("probe_id"),
        fusedBandKey(col("__band"), col("__key")).as("bk"))
      .withColumn("pb", dirBucket(col("bk")))
    require(!probeKeyRows.isEmpty,
      "no probe band keys (all probes zero-norm?)")
    // join carries the dir bucket FIRST so DPP prunes directories, then
    // the fused key for exact pair matching (+ row-group skipping)
    spark.read.parquet(s"$path/bands")
      .join(broadcast(probeKeyRows), Seq("pb", "bk"))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id").as("corpus_id")).distinct()
  }

  /** Top-k over a persisted LSH index — bit-identical results to
    * [[bandedLshTopK]] with the stored parameters (same candidate set:
    * a pair survives iff ANY band key matches; same exact-cosine rerank
    * and tie order). The probe batch's (band, key) frame is BROADCAST
    * against the partitioned layout and Catalyst's dynamic partition
    * pruning turns the reused broadcast into `band IN (...)` /
    * `key IN (...)` partition filters on the scan — only matching
    * directories are listed and read, with NO driver-side collect of
    * the probe keys (a 10⁵-key probe batch stays a distributed frame;
    * the old per-pair OR-disjunction literal blew up Catalyst analysis
    * time before any data moved). The only probe-side action is the
    * emptiness guard.
    *
    * `probeFlips` = 1 turns on multi-probe (see [[multiProbeKeys]]):
    * each band contributes its key plus every 1-bit flip of it, so a
    * wide-key (high-`planesPerBand`) index recovers the recall its
    * selectivity costs — candidate volume scales (r+1)/2^r instead of
    * 1/2^r, still pruned the same way (the flip keys ride the same
    * broadcast + DPP path; directories read grow to ≤ |probes| ×
    * numBands × (r+1)). Default 0 is bit-identical to the pre-flip
    * behavior.
    */
  def bandedLshTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, k: Int,
      probeFlips: Int = 0): DataFrame = {
    val m = loadLshMeta(spark, path)
    val cand = indexCandidates(spark, path, probes, m, probeFlips)
    val c = spark.read.parquet(s"$path/vecs")
      .select(col("id").as("corpus_id"), col("v").as("c_vec"),
        col("nrm").as("c_nrm"))
    val p = withNorm(probes, "probe_id", "p_vec", "p_nrm")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    // shuffle-hash: the corpus-dependent candidate side STREAMS; an SMJ
    // would external-sort it per partition (the measured q260 residual-
    // spill shape), while the vecs build map is |corpus|/partitions rows
    cand.join(c.hint("shuffle_hash"), "corpus_id").join(p, "probe_id")
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
      .select(col("probe_id"), col("corpus_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** [[bandedLshTopKFromIndex]] with the 1-bit SCREEN between candidate
    * generation and the float rerank — the full persisted compression
    * ladder: LSH partitions prune the corpus to candidates, candidates
    * join the 8 B/vector `sigs` table (XOR+popcount, [[signPackExpr]]
    * packing) and only the best `rerank`·k binary survivors per probe
    * ever touch the ~dim×4 B float `vecs` rows. At a 100 TB corpus the
    * middle rung is what keeps a hot LSH bucket affordable: the
    * candidate-sized join payload shrinks ~17× (dim 64) and the float
    * read becomes probe-bounded (≤ rerank·k rows per probe) instead of
    * candidate-bounded.
    *
    * Both stages tie-break on corpus_id (hamming ASC, then cosine
    * DESC), so results are deterministic and oracle-replayable; with
    * `rerank` large enough to cover every candidate this is exactly
    * [[bandedLshTopKFromIndex]] plus a `hamming` column.
    *
    * Output: (probe_id, corpus_id, hamming, cosine, rank).
    */
  def bandedLshTopKFromIndexScreened(
      spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, rerank: Int = 4,
      probeFlips: Int = 0): DataFrame = {
    val m = loadLshMeta(spark, path)
    val cand = indexCandidates(spark, path, probes, m, probeFlips)
    val sigs = spark.read.parquet(s"$path/sigs")
      .select(col("id").as("corpus_id"), col("sig").as("c_sig"))
    val p = withNorm(probes, "probe_id", "p_vec", "p_nrm")
      .withColumn("p_sig", signPackExpr(col("p_vec")))
    val wBin = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("corpus_id"))
    val wExact = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    val screened = cand
      .join(sigs.hint("shuffle_hash"), "corpus_id")
      .join(p.select(col("probe_id"), col("p_sig")), "probe_id")
      .withColumn("hamming", packedHamming(col("c_sig"), col("p_sig")))
      .withColumn("__brank", row_number().over(wBin))
      .filter(col("__brank") <= k * rerank)
    val c = spark.read.parquet(s"$path/vecs")
      .select(col("id").as("corpus_id"), col("v").as("c_vec"),
        col("nrm").as("c_nrm"))
    screened
      // no join hint here: the screened side is ≤ rerank·k rows per
      // probe, so AQE broadcasts it and the float table is SCANNED,
      // never shuffled — forcing shuffle-hash would re-exchange the
      // whole vecs table for a probe-bounded survivor set
      .join(c, "corpus_id")
      .join(p.select(col("probe_id"), col("p_vec"), col("p_nrm")),
        "probe_id")
      .withColumn("cosine",
        pairCosine(col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("corpus_id"), col("hamming"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Banded self-join pairs with exact cosine rerank: (id_a < id_b,
    * cosine). Same OR-construction recall as [[bandedLshTopK]] — at
    * cosine τ with per-plane agreement p = 1 - θ/π, a pair is a
    * candidate with 1-(1-p^r)^b (≈ 0.87 at τ = 0.3 with 15×4). The band
    * join carries only (band-key, id); vectors join back for the rerank.
    */
  private[operators] def bandedScoredPairs(corpus: DataFrame,
      numBands: Int = 15, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val keyed = bandKeys(corpus, "id", numBands, planesPerBand, dim, seed)
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val v = withNorm(corpus, "id", "vec", "nrm")
    cand
      .join(v.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", pairCosine(col("va"), col("vb"), col("na"), col("nb")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** CORPUS-level similarity via KMV sketch set-algebra (Bar-Yossef et
    * al. 2002; Beyer et al. SIGMOD'07): one bottom-k sketch per corpus,
    * then for every corpus pair the k smallest hashes of the sketch
    * UNION estimate `jaccard`, `|A ∪ B|` and `|A ∩ B|` — "how much does
    * my new crawl overlap the training set, per language" without ever
    * joining the corpora.
    *
    * Scale contract: the corpora are scanned ONCE (a partial-aggregating
    * [[graft.functions.BottomKSketch.bottomK]] pass — constant k·entry
    * memory per corpus, any partitioning); everything downstream
    * operates on k × #corpora sketch rows. Estimates are fully
    * deterministic (FNV value hashes, min-k algebra) — q135 replays them
    * to the bit in SQL. Error: ±O(1/√k) on jaccard; exact when a pair's
    * union fits inside k (the estimator then degrades to exact
    * set-algebra, which the spec pins).
    */
  def kmvCorpusOverlap(df: DataFrame, corpusCol: String, valueCol: Column,
      k: Int): DataFrame = {
    import graft.functions.BottomKSketch.bottomK
    val sketches = df.groupBy(col(corpusCol).as("corpus"))
      .agg(bottomK(valueCol, k).as("sk"))
      .select(col("corpus"), explode(col("sk.hash")).as("h"))
    val corpora = sketches.select(col("corpus")).distinct()
    val pairs = corpora.select(col("corpus").as("corpus_a"))
      .crossJoin(corpora.select(col("corpus").as("corpus_b")))
      .filter(col("corpus_a") < col("corpus_b"))
    val members = pairs.join(sketches.withColumnRenamed("corpus", "__c"),
        col("__c") === col("corpus_a") || col("__c") === col("corpus_b"))
      .groupBy(col("corpus_a"), col("corpus_b"), col("h"))
      .agg(max(col("__c") === col("corpus_a")).as("in_a"),
        max(col("__c") === col("corpus_b")).as("in_b"))
    val w = Window.partitionBy(col("corpus_a"), col("corpus_b"))
      .orderBy(col("h"))
    members.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .groupBy(col("corpus_a"), col("corpus_b"))
      .agg(sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("n_shared"),
        max(col("h")).as("__kth"), count(lit(1)).as("__m"))
      .withColumn("jaccard_est",
        col("n_shared").cast("double") / col("__m"))
      .withColumn("union_est", when(col("__m") < k, col("__m").cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          ((col("__kth").cast("double") - lit(Long.MinValue.toDouble))
            / lit(math.pow(2.0, 64)))))
      .withColumn("intersect_est", col("jaccard_est") * col("union_est"))
      .select(col("corpus_a"), col("corpus_b"), col("n_shared"),
        col("jaccard_est"), col("union_est"), col("intersect_est"))
  }

  /** Per-label centroid drift between two embedding corpora (encoder
    * version A vs B, yesterday's crawl vs today's): for every label
    * present in BOTH, the cosine between the label's A-centroid and
    * B-centroid plus the centroid-norm ratio — THE "did the new encoder
    * rotate or rescale my classes" audit run before mixing embedding
    * snapshots in one index.
    *
    * Determinism: per-(label, dim) component sums go through 6dp
    * rounding + DECIMAL(18,6) (exact, order-independent, int64-backed
    * so the final decimal→double conversions are correctly rounded in
    * BOTH engines — the int128 hazard stays out); the cosine folds run
    * over the dim-SORTED component list (one fixed FP sequence). The
    * 1/n centroid factor cancels inside the cosine, so sums are
    * compared directly; the norm ratio re-introduces the counts as one
    * fixed-order double expression.
    *
    * Scale: one posexplode pass per side — (label, dim, component)
    * narrow rows, partial-agg combined map-side to |labels|·dim rows
    * before any shuffle; everything downstream operates on that tiny
    * frame (folds are dim-bounded).
    */
  def labelCentroidDrift(a: DataFrame, b: DataFrame,
      labelCol: String = "label"): DataFrame = {
    def sums(df: DataFrame, out: String): DataFrame =
      df.select(col(labelCol).as("label"), toDouble(col("embedding")).as("v"))
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "c")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(round(col("c"), 6).cast("decimal(18,6)"))
          .cast("decimal(18,6)").cast("double").as(out))
    // counts must see exactly the rows the component sums saw: a
    // null/empty embedding contributes nothing to the sums (posexplode
    // emits no rows) but would still count here and skew norm_ratio,
    // which reintroduces n_a/n_b (round-8 advisory)
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as(out))
    val joined = sums(a, "sa").join(sums(b, "sb"), Seq("label", "dim"))
    def fold(f: Column => Column): Column =
      aggregate(transform(array_sort(
        collect_list(struct(col("dim"), col("sa"), col("sb")))), f),
        lit(0.0), (acc, x) => acc + x)
    joined.groupBy(col("label"))
      .agg(fold(s => s.getField("sa") * s.getField("sb")).as("__dot"),
        fold(s => s.getField("sa") * s.getField("sa")).as("__na2"),
        fold(s => s.getField("sb") * s.getField("sb")).as("__nb2"))
      .join(counts(a, "n_a"), Seq("label"))
      .join(counts(b, "n_b"), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("__na2") > 0 && col("__nb2") > 0,
          round(col("__dot") / sqrt(col("__na2") * col("__nb2")), 4))
          .as("centroid_cosine"),
        when(col("__na2") > 0 && col("__nb2") > 0,
          round(sqrt(col("__na2")) * col("n_b") /
            (sqrt(col("__nb2")) * col("n_a")), 4))
          .as("norm_ratio"))
  }

  /** Mean pairwise cosine per label WITHOUT the O(n²) pair join — the
    * corpus-diversity number ("how collapsed is this class's embedding
    * cloud") computed in ONE pass via the sum-vector identity
    *   Σ_{i≠j} uᵢ·uⱼ = |Σu|² − Σ|uᵢ|²
    * over the normalized vectors: A = |Σu|² needs only per-(label, dim)
    * component sums; B = Σ|uᵢ|² needs only per-vector norms. A naive
    * implementation joins n² pairs; this one shuffles |labels|·dim
    * partial-agg rows. THE demonstration that "average similarity"
    * audits scale linearly.
    *
    * Determinism: normalized components round to 6dp and sum through
    * int64-backed DECIMAL(18,6) (the q295 idiom — exact, order-free,
    * correctly-rounded conversions in both engines); the |Σu|² fold
    * runs dim-ordered; the identity is then EXACT for the rounded
    * vectors, so no FP tolerance is needed anywhere. Labels with one
    * vector emit NULL (no pairs).
    */
  def meanPairwiseCosine(corpus: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val staged = corpus
      .select(col(labelCol).as("label"), toDouble(col("embedding")).as("v"))
      .withColumn("__nrm", l2Norm(col("v")))
      .filter(col("__nrm") > 0)
      .withColumn("w", transform(col("v"), x => round(x / col("__nrm"), 6)))
    val b = staged.select(col("label"),
        round(aggregate(col("w"), lit(0.0), (acc, x) => acc + x * x), 6)
          .as("__q2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("__q2").cast("decimal(18,6)")).cast("decimal(18,6)")
          .cast("double").as("__b"))
    val sums = staged
      .select(col("label"), posexplode(col("w")).as(Seq("dim", "c")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("c").cast("decimal(18,6)")).cast("decimal(18,6)")
        .cast("double").as("s"))
    val a = sums.groupBy(col("label"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("dim"), col("s")))),
          x => x.getField("s") * x.getField("s")),
        lit(0.0), (acc, x) => acc + x).as("__a"))
    a.join(b, Seq("label"))
      .select(col("label"), col("n"),
        when(col("n") > 1,
          round((col("__a") - col("__b")) /
            (col("n") * (col("n") - 1)).cast("double"), 4))
          .as("mean_pairwise_cosine"))
  }

  /** Embedding-norm health report: exact nearest-rank quartiles of the
    * L2 norms plus a Tukey-fence outlier census — the first screen for
    * a broken encoder batch (all-zero rows, exploding norms, a bimodal
    * mix of normalized and raw vectors). Norms are index-ordered
    * Σx² folds + one correctly-rounded √ (bit-exact both engines);
    * quartile picks are q161 integer nearest-rank; the fence
    * p75 + 1.5·(p75 − p25) is a fixed double sequence and the outlier
    * comparison runs on raw doubles. One row out.
    */
  def normStats(df: DataFrame, vecCol: String): DataFrame = {
    val norms = df.select(
      sqrt(aggregate(transform(col(vecCol), x => x.cast("double")),
        lit(0.0), (acc, x) => acc + x * x)).as("norm"))
    // quartiles on the AGGREGATED distinct-norm frame (q214 stance —
    // no corpus-wide row window): nearest-rank value = smallest norm
    // whose cumulative count reaches the integer rank target
    val grp = norms.groupBy(col("norm")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("norm"))
    val cum = grp.withColumn("__cu", sum(col("c")).over(wv))
      .crossJoin(broadcast(norms.agg(count(lit(1)).as("__n"))))
    def pick(p: Int): Column =
      min(when(col("__cu") >= expr(s"($p * __n + 99) div 100"),
        col("norm")))
    val qs = cum.agg(max(col("__n")).as("n"),
      pick(25).as("__p25"), pick(50).as("__p50"), pick(75).as("__p75"))
    val fence = col("__p75") + lit(1.5) * (col("__p75") - col("__p25"))
    cum.crossJoin(broadcast(qs))
      .withColumn("__fence", fence)
      .agg(max(col("n")).as("n_vectors"),
        round(max(col("__p25")), 4).as("p25"),
        round(max(col("__p50")), 4).as("p50"),
        round(max(col("__p75")), 4).as("p75"),
        sum(when(col("norm") > col("__fence"), col("c")).otherwise(0L))
          .as("n_outliers"),
        sum(when(col("norm") === 0.0, col("c")).otherwise(0L))
          .as("n_zero"))
  }
  /** Matryoshka prefix-dimension energy audit (Kusupati et al. 2022,
    * "Matryoshka Representation Learning", public): for each prefix
    * length d, the fraction of a vector's squared-norm energy its first
    * d coordinates retain — THE question before truncating stored
    * embeddings to cut ANN index cost 2-8×. One row per (vector, d):
    * (id, d, energy_frac). energy_frac(dim) ≡ 1.0 exactly (same fold,
    * same bits) — the built-in sanity anchor.
    *
    * Determinism: each coordinate is cast float→double (exact), squared
    * and left-folded in index order — every per-row value is one fixed
    * IEEE chain both engines replay bit-identically (the [[normStats]]
    * fold idiom); the final ÷ is a single correctly-rounded op. Per-row
    * state is dim-bounded. Zero-energy vectors are excluded (fraction
    * undefined).
    *
    * Scale: pure narrow per-row program — one corpus scan, the |prefixes|
    * folds inline in the projection, zero shuffles.
    */
  def matryoshkaEnergy(emb: DataFrame, idCol: String, vecCol: String,
      prefixes: Seq[Int]): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ >= 1) &&
      prefixes.distinct == prefixes, "prefixes must be distinct positives")
    def energy(arr: Column): Column =
      aggregate(transform(arr, x => x.cast("double")),
        lit(0.0), (acc, x) => acc + x * x)
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__efull", energy(col("__v")))
      .filter(col("__efull") > 0.0)
      .select(col(idCol), explode(array(prefixes.map(dd =>
        struct(lit(dd).as("d"),
          (energy(slice(col("__v"), 1, dd)) / col("__efull"))
            .as("energy_frac"))): _*)).as("__p"))
      .select(col(idCol), col("__p.d").as("d"),
        col("__p.energy_frac").as("energy_frac"))
  }

  /** Corpus census over [[matryoshkaEnergy]]: per prefix d, how many
    * vectors retain ≥ 50/90/99% of their energy — the table a curator
    * reads to pick the stored dimension. Integer-exact counts from
    * comparisons of bit-identical doubles + one single-op share; one
    * partial+final aggregation over the narrow per-row frame.
    */
  def matryoshkaEnergyCensus(emb: DataFrame, idCol: String,
      vecCol: String, prefixes: Seq[Int]): DataFrame =
    matryoshkaEnergy(emb, idCol, vecCol, prefixes)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("energy_frac") >= 0.5, 1L).otherwise(0L)).as("n_ge_50"),
        sum(when(col("energy_frac") >= 0.9, 1L).otherwise(0L)).as("n_ge_90"),
        sum(when(col("energy_frac") >= 0.99, 1L).otherwise(0L)).as("n_ge_99"))
      .select(col("d"), col("n_vecs"), col("n_ge_50"), col("n_ge_90"),
        col("n_ge_99"),
        (col("n_ge_90").cast("double") / col("n_vecs").cast("double"))
          .as("share_ge_90"))

  /** Mean-direction anisotropy audit (first-moment form of the
    * Mu & Viswanath 2018 "All-but-the-Top" observation, public): how
    * much of the corpus's embedding energy lies along the MEAN
    * direction — anisotropy₁ = ‖Σᵥ v‖² / (n · Σᵥ‖v‖²) ∈ [0, 1], the
    * pathology number that says "center (and re-normalize) before
    * trusting cosines". 1 = every vector points the same way;
    * isotropic clouds sit near 0. Also reports the dominant coordinate
    * (argmax |Σ vⱼ|, ties → lowest j) and its share of Σⱼ Sⱼ².
    *
    * Exactness: coordinates are 4dp-canonicalized DECIMALs, so the
    * per-dimension sums Sⱼ and the total energy E are EXACT order-free
    * decimal sums (partial+final aggs over the (dim, value) explode —
    * dim-bounded groups). At the audit's scales the scaled sums stay
    * < 2⁵³, so the decimal→double conversions are exact; the remaining
    * arithmetic is a fixed dim-ordered fold over the 64-row frame
    * (bounded by construction) + three correctly-rounded ops.
    *
    * Scale: one explode of (pos, value) pairs with map-side combine
    * into `dim` groups — vectors never shuffle whole; the final fold
    * runs on a dim-row frame.
    */
  def meanDirectionAnisotropy(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val staged = emb.filter(col(vecCol).isNotNull)
      .select(posexplode(transform(col(vecCol),
        x => round(x.cast("double"), 4).cast("decimal(14,4)")))
        .as(Seq("pos", "x")))
    val perDim = staged.groupBy(col("pos"))
      .agg(sum(col("x")).cast("decimal(38,4)").as("__sj"),
        sum((col("x") * col("x")).cast("decimal(38,8)"))
          .cast("decimal(38,8)").as("__ej"))
    val n1 = emb.filter(col(vecCol).isNotNull).agg(count(lit(1)).as("n_vecs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(abs(col("__sj")).desc, col("pos"))
    val folded = perDim
      .withColumn("__rk", row_number().over(w))
      .agg(sum(col("__ej")).cast("decimal(38,8)").as("__e"),
        // dim-ordered bounded fold: Σ Sⱼ² in a FIXED j order
        aggregate(transform(array_sort(collect_list(
          struct(col("pos"), col("__sj").cast("double").as("s")))),
          s => s.getField("s")), lit(0.0), (acc, x) => acc + x * x)
          .as("__ss"),
        max(when(col("__rk") === 1, col("pos"))).as("top_dim"),
        max(when(col("__rk") === 1, col("__sj").cast("double"))).as("__st"))
    folded.crossJoin(broadcast(n1))
      .select(col("n_vecs"),
        col("__e").cast("string").as("total_energy"),
        (col("__ss") / (col("n_vecs").cast("double") *
          col("__e").cast("double"))).as("anisotropy"),
        col("top_dim"),
        (col("__st") * col("__st") / col("__ss")).as("top_share"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items maximizing
    *   λ·relevance − (1−λ)·max_{s ∈ selected} cos(candidate, s)
    * — the diversity-aware top-k every retrieval/curation pipeline
    * needs when plain top-k returns k copies of the same idea (few-shot
    * example selection, dedup'd search results, diverse eval panels).
    *
    * `candidates` must be a BOUNDED pool (the caller pre-cuts, e.g.
    * top-100 by relevance — the documented smallness contract): each of
    * the k greedy steps broadcasts the selected vectors as literals into
    * one scan of the pool and collects exactly ONE row. k and the pool
    * are constants, so the driver loop is bounded by design, not by
    * data.
    *
    * Determinism: cosines are raw [[pairCosine]] doubles on the staged
    * norms (bit-identical to list kernels), max-over-selected is an
    * exact `greatest`, the step score is one fixed-order expression, and
    * ties break by id. Pass a λ that is exact in binary (0.5, 0.75) if
    * the oracle replays literals. Zero-norm candidates are excluded
    * (cosine undefined). Returns (rank, id, rel, max_sim, mmr_score).
    */
  def mmrSelect(candidates: DataFrame, idCol: String, relCol: String,
      embCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = candidates.sparkSession
    // every step's winner is ONE row, collected anyway for the picked
    // set — accumulate the output rows on the driver and build the
    // result frame from them, so each step checkpoint (and base) can be
    // RELEASED before returning instead of pinning k+1 checkpointed
    // RDDs in the block manager for the rest of the session
    var picked = Vector.empty[(Any, Seq[Double], Double)] // id, vec, norm
    var outRows = Vector.empty[org.apache.spark.sql.Row]
    var outSchema: Option[org.apache.spark.sql.types.StructType] = None
    Stage.using(candidates.select(col(idCol).as("__id"),
        col(relCol).cast("double").as("__rel"),
        toDouble(col(embCol)).as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
      .filter(col("__n") > 0)) { base =>
      (1 to k).foreach { step =>
        val sims = picked.map { case (_, v, n) =>
          pairCosine(col("__v"), typedLit(v), col("__n"), lit(n))
        }
        val maxSim = sims match {
          case Seq() => lit(0.0)
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        val score = lit(lambda) * col("__rel") - lit(1.0 - lambda) * maxSim
        val notPicked = picked.map(_._1)
          .foldLeft(lit(true))((acc, id) => acc && col("__id") =!= lit(id))
        Stage.using(base.filter(notPicked)
            .withColumn("__ms", maxSim)
            .withColumn("__score", score)
            .orderBy(col("__score").desc, col("__id"))
            .limit(1)) { stepDf =>
          val row = stepDf.collect().headOption.getOrElse(
            throw new IllegalArgumentException(
              s"mmrSelect: pool exhausted at step $step"))
          picked :+= ((row.get(0),
            row.getSeq[Double](row.fieldIndex("__v")).toVector,
            row.getDouble(row.fieldIndex("__n"))))
          val slice = stepDf.select(lit(step.toLong).as("rank"),
            col("__id").as(idCol), round(col("__rel"), 6).as("rel"),
            round(col("__ms"), 6).as("max_sim"),
            round(col("__score"), 6).as("mmr_score"))
          outSchema = Some(slice.schema)
          outRows ++= slice.collect()
        }
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), outSchema.get)
  }

}
