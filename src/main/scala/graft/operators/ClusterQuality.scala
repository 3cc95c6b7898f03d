package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Internal clustering-validity audits over a labeled embedding table —
  * the "are these clusters/classes real" screens run after k-means
  * assignment (SemDeDup cells, IVF coarse cells) or on labeled corpora
  * before stratified mixing. Both audits are centroid-based: the exact
  * silhouette / Davies-Bouldin definitions need all-pairs distances
  * (O(n²) — a non-starter at 100 TB); the centroid forms (Hruschka et
  * al. 2006 "simplified silhouette"; Davies & Bouldin 1979 is
  * centroid-based natively) need one centroid pass plus one
  * points×k broadcast scan, so they scale linearly in rows.
  *
  * Scale shape (shared `centroids` pass):
  *  - centroid build: one posexplode to (label, dim, component) narrow
  *    rows, partial-agg combined map-side to |labels|·dim rows before
  *    the shuffle; the centroid frame is k rows and BROADCASTs.
  *  - scoring: each point meets the k-row broadcast — no shuffle of
  *    the embedding payload at all; the only post-scan shuffle is the
  *    final per-label partial agg (k rows out).
  *
  * Determinism (the q295/q302 idiom): per-(label, dim) component sums
  * go through 6dp rounding + int64-backed DECIMAL(18,6) (exact,
  * order-free); the centroid component is then ONE double divide
  * (correctly rounded in both engines); point↔centroid distances fold
  * in index order over `zip_with` (one fixed FP sequence, replayed
  * index-ordered by the oracle); per-point scores round to 6dp and
  * aggregate through DECIMAL(18,6) so the per-label means are
  * order-free.
  */
object ClusterQuality {

  /** (label, n, cvec) with cvec the dim-ordered centroid component
    * array. Sums are 6dp-rounded decimal-exact; the /n divide is the
    * single double op per component.
    */
  private[operators] def centroids(pts: DataFrame): DataFrame =
    pts.select(col("label"), posexplode(col("v")).as(Seq("dim", "c")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("c"), 6).cast("decimal(18,6)"))
          .cast("decimal(18,6)").cast("double").as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        transform(
          array_sort(collect_list(struct(col("dim"),
            (col("s") / col("n")).as("m")))),
          q => q.getField("m")).as("cvec"))

  /** Index-ordered Euclidean distance between a point vector and a
    * centroid vector — `zip_with` aligns by position, `aggregate`
    * folds left in order: one fixed FP sequence both engines replay.
    */
  private[operators] def euclid(v: Column, cvec: Column): Column =
    sqrt(aggregate(zip_with(v, cvec, (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x))

  private def staged(corpus: DataFrame, labelCol: String): DataFrame =
    corpus.select(col("vec_id"), col(labelCol).as("label"),
      toDouble(col("embedding")).as("v"))

  /** Simplified silhouette per label: for each point, a = distance to
    * its own label's centroid, b = min distance to any OTHER label's
    * centroid, s = (b − a) / max(a, b) (0 when both are 0 — a point
    * sitting exactly on two coincident centroids). Output one row per
    * label: (label, n, mean_silhouette), silhouette in [−1, 1], higher
    * = tighter/better-separated. Requires ≥ 2 labels (b is undefined
    * otherwise — the single-label frame emits NULL means).
    */
  def simplifiedSilhouette(corpus: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val pts = staged(corpus, labelCol)
    val cent = centroids(pts)
      .select(col("label").as("clabel"), col("cvec"))
    val scored = pts.crossJoin(broadcast(cent))
      .withColumn("__d", euclid(col("v"), col("cvec")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("__d"))).as("__a"),
        min(when(col("clabel") =!= col("label"), col("__d"))).as("__b"))
    scored
      .withColumn("__s", round(
        when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s").cast("decimal(18,6)"))
            .cast("decimal(18,6)").cast("double") / count(lit(1)), 4)
          .as("mean_silhouette"))
  }

  /** Davies-Bouldin report per label: scatter Sᵢ = mean point→centroid
    * distance inside label i; ratio Rᵢ = max_{j≠i} (Sᵢ + Sⱼ) / Mᵢⱼ
    * with Mᵢⱼ the centroid↔centroid distance (coincident centroids are
    * skipped — their ratio is unbounded and the audit's answer there
    * is the NULL). The classic DB index is avg(db_ratio) over labels;
    * the per-label rows name WHICH cluster is the confusable one.
    */
  def daviesBouldin(corpus: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val pts = staged(corpus, labelCol)
    val cent = centroids(pts).transform(Stage.scoped(eager = false))
    val scatter = pts
      .join(broadcast(cent.select(col("label"), col("cvec"))), Seq("label"))
      .withColumn("__d", round(euclid(col("v"), col("cvec")), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__d").cast("decimal(18,6)"))
          .cast("decimal(18,6)").cast("double") / count(lit(1))).as("si"))
    val a = scatter.select(col("label"), col("n"), col("si"))
    val b = scatter.select(col("label").as("jlabel"), col("si").as("sj"))
    val m = cent.select(col("label"), col("cvec"))
      .crossJoin(cent.select(col("label").as("jlabel"),
        col("cvec").as("jvec")))
      .filter(col("label") =!= col("jlabel"))
      .select(col("label"), col("jlabel"),
        euclid(col("cvec"), col("jvec")).as("mij"))
    a.join(m, Seq("label"))
      .join(b, Seq("jlabel"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        round(max(col("si")), 4).as("scatter"),
        round(max(when(col("mij") > 0,
          (col("si") + col("sj")) / col("mij"))), 4).as("db_ratio"))
  }
}
