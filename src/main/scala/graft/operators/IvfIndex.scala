package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** IVF-flat approximate nearest-neighbor index: a k-means coarse quantizer
  * assigns every corpus vector to its nearest centroid ("cell"); a probe
  * searches only its `nprobe` nearest cells. The scale path past LSH —
  * candidate count per probe is ~nprobe/k of the corpus, tunable, and the
  * assignment join is an equi-join on cell id (shuffle-partitioned, never
  * a cross product).
  *
  * Training is Lloyd's algorithm done entirely in DataFrames: assignment
  * is a broadcast-centroid cross score + arg-min, update is a groupBy
  * mean. Deterministic: initial centroids are the vectors with the k
  * smallest xxhash64(vec_id) (seeded pseudo-random, reproducible), and
  * iteration count is fixed.
  *
  * At 100 TB: train on a sample (`trainSample`), broadcast the k
  * centroids (k ≤ a few thousand → MBs), assign in one narrow pass,
  * write the assignment as a bucketed/partitioned column so repeated
  * queries prune cells at the scan.
  */
object IvfIndex {

  final case class Model(centroids: Array[(Int, Array[Double])]) {
    def k: Int = centroids.length
  }

  private[operators] def centroidArrayCol(m: Model): Column =
    array(m.centroids.sortBy(_._1).map { case (_, v) => typedlit(v) }: _*)

  /** Sorted centroid matrix (ids are array positions, 0..k-1). */
  private[operators] def centMatrix(m: Model): Array[Array[Double]] =
    m.centroids.sortBy(_._1).map(_._2)

  /** Nearest-centroid id for a (double-cast) vector column — one codegen'd
    * argmin kernel call (r12: the `array_min(transform(...))` HOF form is
    * CodegenFallback and allocated k structs per row in the k-means
    * assignment inner loop; [[graft.functions.NearestCentroid]] pins the
    * identical (distance, index) ordering).
    */
  private def nearestCell(vec: Column, m: Model): Column =
    graft.functions.HashFunctions.nearestCentroid(vec, centMatrix(m))

  /** Train a k-means quantizer on (vec_id, embedding). */
  def train(corpus: DataFrame, k: Int, iterations: Int = 5,
      trainSample: Option[Double] = None): Model = {
    // null embeddings can't train (a null seed row would NPE at
    // centroid assembly; a null member contributes nothing anyway)
    val base0 = corpus.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val base = trainSample.map(f => base0.sample(withReplacement = false, f, seed = 42L))
      .getOrElse(base0)
    // Lloyd's makes one pass PER iteration over the training set — cache it
    // for the duration of training, and release it however training ends.
    base.persist()
    try {
      // deterministic init: k vectors with smallest hashed ids
      var centroids: Array[(Int, Array[Double])] = base
        .withColumn("h", xxhash64(col("vec_id")))
        .orderBy("h").limit(k)
        .select("v").collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
      require(centroids.nonEmpty,
        "IVF training needs at least one non-null embedding; the training set has none")

      val dim = centroids.head._2.length
      (0 until iterations).foreach { _ =>
        val m = Model(centroids)
        val assigned = base.withColumn("cell", nearestCell(col("v"), m))
        // ONE shuffle per iteration, and no explode (r12): per-cell count
        // + one running sum per dimension as k rows × (dim+1) agg buffers
        // — the former posexplode fanned every vector into `dim` (cell,
        // dim, x) rows (|corpus|·dim rows per pass) just to route each
        // component to its own hash-agg key. Partial sums still add the
        // same x values in the same within-partition row order, and
        // sum/count is exactly avg's arithmetic, so centroids are
        // bit-identical to the exploded form.
        val sums = (0 until dim).map(d =>
          sum(element_at(col("v"), d + 1)).as(s"__s$d"))
        val meanRows = assigned
          .groupBy("cell")
          .agg(count(lit(1)).as("__n"), sums: _*)
          .collect()
        val byCell = meanRows.map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> Array.tabulate(dim)(d => r.getDouble(d + 2) / n)
        }.toMap
        // keep old centroid for any cell that lost all members
        centroids = centroids.map { case (i, old) => (i, byCell.getOrElse(i, old)) }
      }
      Model(centroids)
    } finally base.unpersist()
  }

  /** Assign every corpus vector to its cell — no VALID row dropped
    * (zero-norm vectors still live in a cell; cosine scoring excludes
    * them later). Null/wrong-dimension embeddings ARE dropped: they
    * can't score against any centroid, and the argmin's all-NULL
    * distance column would silently park them in cell 0 with garbage
    * codes downstream (and the cosine dot kernel would throw on the
    * dim mismatch at query time). Materialize + partition this at
    * scale so probes prune cells at scan.
    */
  def assign(corpus: DataFrame, m: Model): DataFrame = {
    val dim = m.centroids.head._2.length
    corpus.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("cell", nearestCell(col("v"), m))
  }

  /** Cell-balance audit of the coarse quantizer — the probe-latency
    * health check for an IVF index: per-cell occupancy rolled into one
    * row with the max/mean balance ratio and the occupancy entropy
    * (H = ln N − Σ n·ln n / N, the exact rearrangement that needs no
    * per-cell p=n/N divides). A ratio ≫ 1 / entropy_ratio ≪ 1 means a
    * few hot cells own the corpus — probes that touch them scan far
    * more than N·nprobe/k codes, and the quantizer wants retraining
    * (or the corpus re-clustering). Determinism: the n·ln n terms fold
    * cell-id-ordered (k terms, one fixed FP sequence); everything
    * upstream is exact integer counts off one partial-agg pass.
    */
  def cellBalanceAudit(corpus: DataFrame, m: Model): DataFrame = {
    val cells = assign(corpus, m)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val h = log(col("n_vecs").cast("double")) -
      col("__snln") / col("n_vecs").cast("double")
    cells.agg(
        count(lit(1)).as("cells_used"),
        sum(col("n")).as("n_vecs"),
        max(col("n")).as("max_cell"),
        aggregate(
          transform(array_sort(collect_list(struct(col("cell"), col("n")))),
            s => s.getField("n").cast("double") *
              log(s.getField("n").cast("double"))),
          lit(0.0), (a, v) => a + v).as("__snln"))
      .select(col("cells_used"), col("n_vecs"), col("max_cell"),
        round(col("max_cell").cast("double") * col("cells_used") /
          col("n_vecs").cast("double"), 4).as("balance_ratio"),
        round(h, 4).as("entropy"),
        when(col("cells_used") > 1,
          round(h / log(col("cells_used").cast("double")), 4))
          .as("entropy_ratio"))
  }

  /** Persist the assignment as a CELL-PARTITIONED parquet index: repeated
    * probe workloads then read only their nprobe cell directories
    * (partition pruning at the scan — the IVF "inverted lists" realized as
    * data layout). Centroids are stored alongside THROUGH Spark (portable
    * to any Hadoop-FS path, unlike java.nio).
    */
  def writeIndex(corpus: DataFrame, m: Model, path: String): Unit = {
    val spark = corpus.sparkSession
    assign(corpus, m)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    import spark.implicits._
    m.centroids.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Incremental maintenance: assign ONLY the new vectors with the
    * STORED centroids and append their rows into the cell partitions —
    * probes then see one unified layout, bit-identical to having
    * indexed the full corpus with this quantizer in one shot (cells are
    * plain partition directories; append adds files, never rewrites).
    * The quantizer is frozen — the standard IVF maintenance contract;
    * retrain + rebuild when distribution drift warrants it. New ids
    * must be NEW (same append-only contract as the BM25 index).
    */
  def appendToIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    val m = loadModel(spark, path)
    assign(newVecs, m)
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model =
    Model(spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1))

  /** Top-k over a persisted index: the probe's nprobe cells become a
    * partition filter, so only those cell directories are scanned.
    */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val m = loadModel(spark, path)
    val probeRows = probes
      .select(col("vec_id").as("probe_id"), toDouble(col("embedding")).as("p_vec"))
      .withColumn("p_nrm", l2Norm(col("p_vec")))
      .filter(col("p_nrm") > 0)
      .withColumn("cells", slice(transform(array_sort(transform(centroidArrayCol(m),
        (c, i) => struct(squaredL2Distance(col("p_vec"), c).as("d"), i.as("cell")))),
        s => s.getField("cell")), 1, nprobe))
    // probes are small by contract (same as bruteForceTopK): collect ONCE,
    // rebuild as a local DataFrame — the probe scan + k-centroid distance
    // transform run a single time, and both downstream uses are local
    val probeLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.collect(): _*), probeRows.schema)
    // union of probed cells → partition-pruning filter
    val probedCells = probeLocal.select(explode(col("cells")).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val cellsDf = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*)) // prunes cell= directories
      .filter(col("nrm") > 0) // cosine undefined for zero-norm vectors (matches topK)
      .select(col("vec_id").as("corpus_id"), col("v").as("c_vec"),
        col("nrm").as("c_nrm"), col("cell"))
    val scored = cellsDf.join(
        broadcast(probeLocal.select(col("probe_id"), col("p_vec"), col("p_nrm"),
          explode(col("cells")).as("cell"))), Seq("cell"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .withColumn("cosine", Similarity.pairCosine(
        col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.select(col("probe_id"), col("corpus_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Approximate cosine top-k: each probe searches its `nprobe` nearest
    * cells only.
    */
  def topK(corpus: DataFrame, probes: DataFrame, m: Model, k: Int,
      nprobe: Int = 4): DataFrame = {
    val assigned = assign(corpus, m)
      .filter(col("nrm") > 0) // cosine undefined for zero-norm vectors
      .select(col("vec_id").as("corpus_id"), col("v").as("c_vec"),
        col("nrm").as("c_nrm"), col("cell"))
    val probeCells = probes
      .select(col("vec_id").as("probe_id"), toDouble(col("embedding")).as("p_vec"))
      .withColumn("p_nrm", l2Norm(col("p_vec")))
      .filter(col("p_nrm") > 0)
      .withColumn("cells", slice(transform(array_sort(transform(centroidArrayCol(m),
        (c, i) => struct(squaredL2Distance(col("p_vec"), c).as("d"), i.as("cell")))),
        s => s.getField("cell")), 1, nprobe))
      .select(col("probe_id"), col("p_vec"), col("p_nrm"),
        explode(col("cells")).as("cell"))
    val scored = assigned.join(probeCells, Seq("cell"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .withColumn("cosine", Similarity.pairCosine(
        col("c_vec"), col("p_vec"), col("c_nrm"), col("p_nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.select(col("probe_id"), col("corpus_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
