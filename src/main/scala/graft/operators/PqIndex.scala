package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{squaredL2Distance, toDouble}

/** Product quantization for embedding compression + ADC search (Jégou,
  * Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search"). The vector space is split into `m` contiguous subspaces of
  * `dsub` dims; each subspace gets its own k-means codebook; a vector is
  * stored as `m` small codes. At 100 TB this is THE memory story: a
  * 64-dim float vector (256 B) compresses to m=8 codes (8 B — 32× less),
  * and query scoring becomes `m` table lookups per candidate instead of
  * a `dim`-wide float scan (asymmetric distance computation, ADC).
  *
  * Reference scope: the reference repo has no vector search at all; this
  * extends the brief's similarity-search requirement (ANN baseline =
  * [[Similarity.bruteForceTopK]]; IVF = [[IvfIndex]]; PQ is the
  * compressed-domain scale path, composable with IVF into IVFADC).
  *
  * Determinism contract (mirrors [[IvfIndex]], q52/q122): seeds are the
  * `k` vectors with smallest xxhash64(vec_id) — the SAME seed rows for
  * every subspace; Lloyd's argmin breaks ties toward the smaller code
  * via array_min over struct(d, code); per-(sub,code,dim) means use AVG
  * (engine-vs-oracle summation-order ulp accepted — assignment flips
  * need near-exact distance ties, never observed, gaps O(0.01)); the
  * per-candidate ADC sum folds subspaces in index order (fixed FP order,
  * SQL-replayable via list_reduce over `ORDER BY sub`).
  */
object PqIndex {

  /** codebooks(sub)(code) = centroid of that subspace cell. */
  final case class Model(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def k: Int = codebooks(0).length
  }

  /** Nested literal: cb[sub][code] = centroid array. */
  private def codebookCol(model: Model): Column =
    array(model.codebooks.map(sub =>
      array(sub.map(typedlit(_)): _*)): _*)

  /** Argmin code for a subvector within its subspace codebook (ties to
    * the smaller code — array_min over struct(d, code), the IvfIndex
    * convention).
    */
  private def nearestCode(sv: Column, sub: Column, cb: Column): Column =
    array_min(transform(element_at(cb, sub + 1),
      (c, i) => struct(squaredL2Distance(sv, c).as("d"), i.as("code"))))
      .getField("code")

  /** (vec_id, sub, sv) — every vector exploded into its m subvectors. */
  private def subvectors(corpus: DataFrame, m: Int, dsub: Int): DataFrame =
    corpus.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("v"), s * dsub + 1, lit(dsub)))).as(Seq("sub", "sv")))

  /** Train per-subspace k-means codebooks. One explode + one shuffle per
    * Lloyd's iteration for ALL subspaces together (the subspace is a
    * grouping column, not a separate job); per-iteration reduction lands
    * as m·k·dsub tiny rows on the driver.
    */
  def train(corpus: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      iterations: Int = 3): Model = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val subs = subvectors(corpus, m, dsub)
    subs.persist() // every Lloyd's pass reads it; released however training ends
    try {
      // deterministic init: the k smallest-hashed vectors seed EVERY
      // subspace (code = rank in hash order)
      val seedRows = subs
        .join(broadcast(corpus.select(col("vec_id"))
          .withColumn("__h", xxhash64(col("vec_id")))
          .orderBy("__h").limit(k)
          .withColumn("__code",
            (row_number().over(Window.orderBy("__h")) - 1).cast("int"))),
          Seq("vec_id"))
        .select(col("sub"), col("__code"), col("sv"))
        .collect()
      // fail FAST with a diagnosable message: a corpus smaller than k, or
      // a seed vector whose embedding is null/short (it explodes to no
      // subvector rows), would otherwise surface as an opaque None.get
      (0 until m).foreach { s =>
        val have = seedRows.filter(_.getInt(0) == s).map(_.getInt(1)).toSet
        require(have.size == k,
          s"PQ training needs k=$k usable seed vectors, subspace $s has " +
            s"${have.size} (corpus smaller than k, or seed embeddings " +
            "null/short)")
      }
      var codebooks: Array[Array[Array[Double]]] =
        Array.tabulate(m) { s =>
          val bySub = seedRows.filter(_.getInt(0) == s)
          Array.tabulate(k) { c =>
            bySub.find(_.getInt(1) == c).get.getSeq[Double](2).toArray
          }
        }

      (0 until iterations).foreach { _ =>
        // No explode (r12, the IvfIndex.train pattern): (sub, code) count
        // + one running sum per subspace dimension — m·k rows × (dsub+1)
        // buffers instead of |subs|·dsub exploded (sub, code, dim, x)
        // rows per pass. Same within-partition add order, sum/count ≡
        // avg — codebooks bit-identical to the exploded form. The argmin
        // itself is the codegen'd NearestCodeBySub kernel (r12; was an
        // interpreted transform+array_min per subvector row).
        val sums = (0 until dsub).map(d =>
          sum(element_at(col("sv"), d + 1)).as(s"__s$d"))
        val meanRows = subs
          .withColumn("code", graft.functions.HashFunctions.nearestCodeBySub(
            col("sv"), col("sub"), codebooks))
          .groupBy("sub", "code")
          .agg(count(lit(1)).as("__n"), sums: _*)
          .collect()
        val grouped = meanRows.map { r =>
          val n = r.getLong(2).toDouble
          (r.getInt(0), r.getInt(1)) ->
            Array.tabulate(dsub)(d => r.getDouble(d + 3) / n)
        }.toMap
        codebooks = Array.tabulate(m)(s => Array.tabulate(k)(c =>
          grouped.getOrElse((s, c), codebooks(s)(c))))
      }
      Model(m, dsub, codebooks)
    } finally subs.unpersist()
  }

  /** Encode the corpus: (vec_id, codes[m]) — a PURE per-row map (the
    * codebook is a plan literal), zero shuffles; this is the 32×
    * compression pass. Null/wrong-dimension embeddings are DROPPED
    * (the [[IvfIndex.assign]] convention): their all-NULL subspace
    * distances would tie-break every argmin to code 0 — a silently
    * garbage encoding, not a representation.
    */
  def encode(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull &&
        size(col("v")) === model.m * model.dsub)
      .select(col("vec_id"), encodeVec(col("v"), model).as("codes"))

  /** Code array for one double-array vector column — for callers that
    * carry extra columns through encoding (IVFADC keeps the coarse cell
    * id alongside).
    */
  def encodeVec(v: Column, model: Model): Column =
    // r12: one codegen'd kernel call per row instead of m interpreted
    // slice + transform + array_min programs (identical slice-truncation
    // and (distance, code) ordering — see PqEncodeCodes)
    graft.functions.HashFunctions.pqEncodeCodes(v, model.dsub, model.codebooks)

  /** Per-probe ADC lookup table dt[sub][code] from a double-array probe
    * vector column (shared by [[adcTopK]] and IVFADC).
    */
  def distanceTable(pv: Column, model: Model): Column = {
    val cb = codebookCol(model)
    transform(sequence(lit(0), lit(model.m - 1)),
      s => transform(element_at(cb, s + 1),
        c => squaredL2Distance(
          slice(pv, s * model.dsub + 1, lit(model.dsub)), c)))
  }

  /** ADC distance: fold the per-subspace lookups in subspace order. */
  def adcDistance(dt: Column, codes: Column, m: Int): Column =
    // r12: the subspace-ordered lookup fold as one codegen'd kernel call
    // — the aggregate(sequence(...)) form interpreted 3 element_ats per
    // subspace per (candidate, probe) pair, the scan-dominant cost of
    // every ADC lane
    graft.functions.HashFunctions.adcDistance(dt, codes, m)

  /** ADC top-k: per probe, build the m×k lookup table of subspace
    * distances ONCE (a tiny probes×codebook frame, broadcast), then score
    * every encoded candidate with m array lookups folded in subspace
    * order — the corpus is scanned once as codes (8 B/vec), never as
    * floats, and never shuffled; per-probe top-k is a bounded window.
    * Self-matches are excluded (probes drawn from the corpus).
    */
  def adcTopK(codes: DataFrame, probes: DataFrame, model: Model,
      k: Int): DataFrame = {
    // dt[sub][code] per probe, assembled per-row from the plan-literal
    // codebook — no extra job, one small broadcast frame
    val dtab = probes
      .select(col("vec_id").as("probe_id"), toDouble(col("embedding")).as("pv"))
      .select(col("probe_id"), distanceTable(col("pv"), model).as("dt"))
    codes.join(broadcast(dtab), col("vec_id") =!= col("probe_id"))
      .withColumn("adc", adcDistance(col("dt"), col("codes"), model.m))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("corpus_id"),
        round(col("adc"), 4).as("adc_dist"), col("rank"))
  }
}
