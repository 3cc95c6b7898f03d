package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{squaredL2Distance, toDouble}

/** IVFADC — the canonical billion-scale ANN architecture (Jégou et al.
  * 2011 §IV): a coarse IVF quantizer prunes the search to `nprobe`
  * cells, and product-quantized RESIDUALS (v − coarse centroid) give a
  * compressed in-cell distance — the composition of [[IvfIndex]]
  * (partition pruning) and [[PqIndex]] (32× compression + ADC lookups).
  *
  * Why residuals: within a cell, vectors share the centroid's offset;
  * quantizing v − c(v) spends the PQ codebook's resolution on the
  * in-cell spread instead of the global layout — the standard accuracy
  * win over flat PQ at the same code budget.
  *
  * Scale story: the fleet-sized corpus is stored as (cell, m codes) —
  * prunable by cell partition AND 32× smaller than raw floats; a query
  * touches nprobe cells × (per-cell ADC lookup tables built from ONE
  * probe row) and never reads a raw corpus vector.
  *
  * Determinism: both trainings follow the IvfIndex/PqIndex contract
  * (xxhash64 seeds, argmin ties toward smaller cell/code, AVG means
  * with the accepted summation-order ulp); probe cell choice ranks by
  * (squared distance, cell); the final ADC fold is subspace-ordered.
  */
object IvfAdc {

  final case class Model(coarse: IvfIndex.Model, pq: PqIndex.Model)

  private def centArr(m: IvfIndex.Model): Column =
    IvfIndex.centroidArrayCol(m)

  private def dimOf(m: Model): Int = m.coarse.centroids.head._2.length

  /** Per-probe nprobe nearest coarse cells — the ONE probe-cell
    * selection all three query paths share (ranked by (squared
    * distance, cell) over the literal centroids; a per-row
    * computation, no job). Null/wrong-dim probe vectors are dropped:
    * their all-NULL distances would probe arbitrary cells and then
    * NULL-rank every candidate first.
    */
  private def probeCells(probes: DataFrame, ca: Column, nprobe: Int,
      dim: Int): DataFrame =
    probes
      .select(col("vec_id").as("probe_id"), toDouble(col("embedding")).as("pv"))
      .filter(col("pv").isNotNull && size(col("pv")) === dim)
      .select(col("probe_id"), col("pv"),
        explode(slice(array_sort(transform(ca,
          (c, i) => struct(squaredL2Distance(col("pv"), c).as("d"),
            i.as("cell")))), 1, nprobe)).as("pc"))
      .select(col("probe_id"), col("pv"), col("pc.cell").as("cell"))

  /** Train coarse quantizer on the corpus, then PQ on coarse residuals. */
  def train(corpus: DataFrame, kCells: Int, m: Int, pqK: Int,
      iterations: Int, dim: Int): Model = {
    val coarse = IvfIndex.train(corpus, kCells, iterations)
    val pq = PqIndex.train(
      residuals(corpus, coarse).select(col("vec_id"), col("rv").as("embedding")),
      dim, m, pqK, iterations)
    Model(coarse, pq)
  }

  /** (vec_id, cell, rv): coarse assignment + residual vector. r12: the
    * per-row `zip_with(v, element_at(ca, cell+1), x - c)` HOF (interpreted,
    * once per corpus vector) is the codegen'd ResidualAt kernel with
    * identical padding/null semantics.
    */
  def residuals(corpus: DataFrame, coarse: IvfIndex.Model): DataFrame =
    IvfIndex.assign(corpus, coarse)
      .select(col("vec_id"), col("cell"),
        graft.functions.HashFunctions.residualAt(
          col("v"), col("cell"), IvfIndex.centMatrix(coarse)).as("rv"))

  /** Compressed index rows: (vec_id, cell, codes[m]) — one narrow pass
    * over the residual frame, PQ codes from the plan-literal codebooks.
    */
  def encode(corpus: DataFrame, model: Model): DataFrame =
    residuals(corpus, model.coarse)
      .select(col("vec_id"), col("cell"),
        PqIndex.encodeVec(col("rv"), model.pq).as("codes"))

  /** Persist the compressed index: codes partitioned BY CELL (probes
    * prune cell directories at the scan — the inverted lists as data
    * layout) + both models as parquet alongside (portable to any
    * Hadoop-FS path). 8 B of codes per vector is what an object store
    * holds at fleet scale; the ADC-only query path never reads a raw
    * vector. `withVectors = true` additionally stores the RAW vectors
    * partitioned by the same cells — the serving layout for
    * [[topKFromIndexReranked]], whose exact re-score then reads only
    * the probed cell directories.
    */
  def writeIndex(corpus: DataFrame, model: Model, path: String,
      withVectors: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    encode(corpus, model)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    if (withVectors)
      IvfIndex.assign(corpus, model.coarse)
        .select(col("vec_id"), col("cell"), col("v"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    model.coarse.centroids.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    (for (s <- 0 until model.pq.m; c <- 0 until model.pq.k)
      yield (s, c, model.pq.codebooks(s)(c).toSeq))
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val coarse = IvfIndex.Model(spark.read.parquet(s"$path/coarse")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1))
    val pqRows = spark.read.parquet(s"$path/pq")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = pqRows.keys.map(_._1).max + 1
    val k = pqRows.keys.map(_._2).max + 1
    val dsub = pqRows.head._2.length
    Model(coarse, PqIndex.Model(m, dsub,
      Array.tabulate(m)(s => Array.tabulate(k)(c => pqRows((s, c))))))
  }

  /** Incremental maintenance: encode ONLY the new vectors with the
    * STORED (frozen) models and append into the cell partitions —
    * bit-identical to a one-shot index of the full corpus with these
    * models (per-row encode is deterministic; append adds files, never
    * rewrites). Same frozen-quantizer contract as [[IvfIndex]]/BM25:
    * retrain + rebuild on distribution drift; new ids must be new.
    */
  def appendToIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    val m = loadModel(spark, path)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val vecsPath = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val hasVectors = vecsPath.getFileSystem(hadoopConf).exists(vecsPath)
    val ca = centArr(m.coarse)
    // one staged assignment feeds BOTH appends (increment-sized
    // checkpoint, released when the writes land)
    Stage.using(IvfIndex.assign(newVecs, m.coarse)) { staged =>
      staged.select(col("vec_id"), col("cell"),
        PqIndex.encodeVec(
          graft.functions.HashFunctions.residualAt(
            col("v"), col("cell"), IvfIndex.centMatrix(m.coarse)),
          m.pq).as("codes"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      // a withVectors serving layout must stay COMPLETE: an appended
      // vector missing from vectors/ would survive the ADC scan and
      // then silently vanish in topKFromIndexReranked's exact-rescore
      // join — the partial-side-table hazard appendToLshIndex guards
      if (hasVectors)
        staged.select(col("vec_id"), col("cell"), col("v"))
          .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
    }
  }

  /** ADC top-k over a persisted index: the probes' union of nprobe
    * cells becomes a partition filter — only those cell directories are
    * read, as 8 B code rows.
    */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, nprobe: Int, k: Int): DataFrame =
    topKFromIndexImpl(spark, path, probes, nprobe, k,
      loadModel(spark, path))

  private def topKFromIndexImpl(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, nprobe: Int, k: Int,
      model: Model): DataFrame = {
    val ca = centArr(model.coarse)
    val pcells = probeCells(probes, ca, nprobe, dimOf(model))
    val dtab = pcells
      .select(col("probe_id"), col("cell"),
        PqIndex.distanceTable(
          graft.functions.HashFunctions.residualAt(
            col("pv"), col("cell"), IvfIndex.centMatrix(model.coarse)),
          model.pq).as("dt"))
    // collect once (probes small by contract) → local frame + the
    // partition-pruning cell list
    val dtabLocal = spark.createDataFrame(
      java.util.Arrays.asList(dtab.collect(): _*), dtab.schema)
    val probedCells = dtabLocal.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val codes = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*)) // prunes cell= dirs
      .select(col("vec_id"), col("cell"), col("codes"))
    codes.join(broadcast(dtabLocal), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", PqIndex.adcDistance(col("dt"), col("codes"), model.pq.m))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("corpus_id"),
        round(col("adc"), 4).as("adc_dist"), col("rank"))
  }

  /** ADC top-R → EXACT rerank → top-k: the standard serving pattern
    * (Jégou et al. 2011 §V.B). ADC distances carry PQ quantization loss,
    * so the compressed scan over-fetches `rerank` candidates and the
    * final k are chosen by exact squared L2 against the RAW vectors —
    * fetched for the candidates only (the candidate frame is tiny:
    * probes × rerank rows, broadcast into the corpus join so raw
    * vectors never shuffle).
    */
  def topKReranked(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
      model: Model, nprobe: Int, rerank: Int, k: Int): DataFrame = {
    val cands = topK(codes, probes, model, nprobe, rerank)
      .select(col("probe_id"), col("corpus_id"))
    val pv = probes.select(col("vec_id").as("probe_id"),
      toDouble(col("embedding")).as("pv"))
    val cv = corpus.select(col("vec_id").as("corpus_id"),
      toDouble(col("embedding")).as("cv"))
    rerankExact(cv.join(broadcast(cands.join(pv, Seq("probe_id"))),
      Seq("corpus_id")), k)
  }

  /** Persisted-index form of [[topKReranked]]: candidates come from the
    * ADC scan over pruned cell directories, and the exact re-score reads
    * raw vectors from the index's cell-partitioned `vectors/` layout
    * (written by `writeIndex(withVectors = true)`) filtered to the SAME
    * probed cells — both scans are partition-pruned; no full-corpus read
    * anywhere on the query path.
    */
  def topKFromIndexReranked(spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, nprobe: Int, rerank: Int,
      k: Int): DataFrame = {
    // load the model ONCE — the nested ADC scan reuses it rather than
    // re-collecting both codebook parquets per query
    val model = loadModel(spark, path)
    val ca = centArr(model.coarse)
    val pcells = probeCells(probes, ca, nprobe, dimOf(model))
    val probedCells = pcells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cands = topKFromIndexImpl(spark, path, probes, nprobe, rerank, model)
      .select(col("probe_id"), col("corpus_id"))
    val pv = probes.select(col("vec_id").as("probe_id"),
      toDouble(col("embedding")).as("pv"))
    val vecs = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probedCells: _*)) // prunes cell= dirs
      .select(col("vec_id").as("corpus_id"), col("v").as("cv"))
    rerankExact(vecs.join(broadcast(cands.join(pv, Seq("probe_id"))),
      Seq("corpus_id")), k)
  }

  /** Shared exact re-score: squared L2 on (pv, cv), deterministic
    * (dist, corpus_id) ranking, top-k per probe.
    */
  private def rerankExact(joined: DataFrame, k: Int): DataFrame =
    joined
      .withColumn("dist", squaredL2Distance(col("pv"), col("cv")))
      // defensive: a NULL distance (invalid vector that slipped every
      // upstream filter) must never take rank 1 via NULLS FIRST
      .filter(col("dist").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("dist"), col("corpus_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("corpus_id"), col("dist"), col("rank"))

  /** ADC top-k through the inverted lists: per probe, the `nprobe`
    * nearest coarse cells (ranked by (distance, cell) over the literal
    * centroids — a per-row computation, no job); per (probe, cell) an
    * ADC lookup table on the probe's CELL residual; candidates join the
    * tiny table on their cell (broadcast — codes never shuffle) and fold
    * m lookups. Self-matches excluded.
    */
  def topK(codes: DataFrame, probes: DataFrame, model: Model,
      nprobe: Int, k: Int): DataFrame = {
    val ca = centArr(model.coarse)
    val pcells = probeCells(probes, ca, nprobe, dimOf(model))
    val dtab = pcells
      .select(col("probe_id"), col("cell"),
        PqIndex.distanceTable(
          graft.functions.HashFunctions.residualAt(
            col("pv"), col("cell"), IvfIndex.centMatrix(model.coarse)),
          model.pq).as("dt"))
    codes.join(broadcast(dtab), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", PqIndex.adcDistance(col("dt"), col("codes"), model.pq.m))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("corpus_id"),
        round(col("adc"), 4).as("adc_dist"), col("rank"))
  }
}
