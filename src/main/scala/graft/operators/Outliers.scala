package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group outlier detection: median / MAD (median absolute
  * deviation) flagging — the standard robust alternative to mean/stddev
  * z-scores, immune to the outliers it is hunting (a single 1e9 reading
  * shifts a mean arbitrarily but moves a median one rank).
  *
  * EXACT medians, computed rank-wise: the middle one-or-two values per
  * group are selected by `row_number` and averaged. Both operands of
  * that average are individual input values, so every arithmetic step
  * (2-element sum, halving, |x − med|, the `k·mad` compare) is a single
  * correctly-rounded IEEE operation on identical inputs — bit-identical
  * across engines, which is what lets q134 be oracle-exact on raw
  * doubles with no display rounding. (Spark's own `percentile` /
  * DuckDB's `quantile_cont` interpolate with potentially different
  * expression shapes — the rank-wise form sidesteps that.)
  *
  * Scale: two sort-shuffles of (group, value) pairs — narrow columns,
  * never payloads — plus two broadcast-sized joins of per-group stats.
  * For a one-pass approximate variant at extreme group cardinality use
  * `percentile_approx` for both med and mad; the flags then lose the
  * exactness contract (same trade as [[Profile.profile]]'s
  * `approxDistinct`).
  */
object Outliers {

  /** Tag each row with its group's exact `med`, `mad` and
    * `is_outlier = |value − med| > k · mad`. Input column must be
    * numeric; rows compare within their `groupCol` group only.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.5): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull)
    val med = groupMedian(rows, groupCol, valueCol, "med")
    val withMed = rows.join(broadcast(med), Seq(groupCol))
      .withColumn("__adev", abs(col(valueCol).cast("double") - col("med")))
    val mad = groupMedian(withMed, groupCol, "__adev", "mad")
    withMed.join(broadcast(mad), Seq(groupCol))
      .withColumn("is_outlier", col("__adev") > lit(k) * col("mad"))
      .drop("__adev")
  }

  /** 2-D skyline (Pareto frontier, minimize both axes): points no other
    * point dominates (x ≤ ∧ y ≤ with one strict). On DISTINCT (x, y)
    * pairs, a point survives iff its y is strictly below the running
    * min-y of all (x, y)-lexicographically earlier points — one pass
    * over the x-sorted distinct frame. Equal-pair duplicates are
    * mutually non-dominating, so the distinct pass loses nothing.
    *
    * Scale: the window runs AFTER the distinct of the metric PAIR — the
    * frame is bounded by distinct metric combinations, not row count
    * (band-partition + frontier-merge is the fallback when even that is
    * huge). Exact arithmetic throughout.
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull).distinct()
    val w = Window.orderBy(col("x"), col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("__minPrev", min(col("y")).over(w))
      .filter(col("__minPrev").isNull || col("y") < col("__minPrev"))
      .select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Exact per-group percentiles by the NEAREST-RANK (ceiling)
    * convention: the p-th percentile is the value at sorted position
    * ⌈p·n/100⌉ — pure integer rank arithmetic (no q·n double multiply,
    * whose 0.95·2000 = 1900.0000000000002 would ceil to 1901), so
    * results are exact raw doubles cross-engine. Percentiles are WIDE
    * columns (p50, p95, ...) — one rank window + one group agg.
    * Same scale caveat as [[groupMedian]]: a per-group sort; use
    * percentile_approx (q137's contract) when groups skew huge.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be integer percentages in [1, 100]")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val cw = Window.partitionBy(col(groupCol))
    val ranked = df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
    ranked.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"),
        percents.map(p =>
          max(when(col("__rn") === expr(s"($p * __n + 99) div 100"),
            col(valueCol))).as(s"p$p")): _*)
  }

  /** Exact per-group median of `valueCol` as `out`: the mean of the
    * middle one-or-two ranked values (a 2-element sum is commutative in
    * IEEE arithmetic, so this is deterministic on any partitioning).
    */
  def groupMedian(df: DataFrame, groupCol: String, valueCol: String,
      out: String): DataFrame = {
    val gw = Window.partitionBy(col(groupCol))
    df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__rn", row_number().over(gw.orderBy(col("__v"))))
      .withColumn("__n", count(lit(1)).over(gw))
      .filter(col("__rn") === expr("(__n + 1) div 2") ||
        col("__rn") === expr("(__n + 2) div 2"))
      .groupBy(col(groupCol))
      .agg((sum(col("__v")) / count(lit(1))).as(out))
  }

  /** ROLLING median/MAD anomaly flags — the streaming-shaped robust
    * detector: per key, over the trailing `window` rows in (epoch-µs,
    * event-id) order, med = lower median of the frame, mad = lower
    * median of |x − med|, and the row is anomalous when
    * |x − med| > k·mad; a zero-MAD frame (constant-majority trailing
    * values) degrades to "any deviation flags" — the classic rule.
    *
    * Lower (nearest-rank) medians — `sorted[(n+1) div 2]` — keep every
    * output cell an INPUT value or a single correctly-rounded IEEE
    * op (|x − med| one subtract, k·mad one multiply), so raw doubles
    * are bit-identical cross-engine with no display rounding (the q134
    * argument, minus even the 2-element average). The frame is a
    * bounded collect_list (`window` ≤ 64 elements) sorted per row —
    * O(w log w) per event, shuffled once on the key; no corpus-wide
    * window.
    */
  def rollingMad(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, window: Int = 7,
      k: Double = 3.0): DataFrame = {
    require(window >= 2 && window <= 64, s"window must be in [2, 64], got $window")
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("eid"))
      .rowsBetween(-(window - 1), Window.currentRow)
    // (n+1)/2 in exact integer terms: the double division is by the
    // constant 2 on a small int — exact — and floor recovers the rank
    val lowerMed = (arr: org.apache.spark.sql.Column) =>
      element_at(array_sort(arr), floor((size(arr) + 1) / 2).cast("int"))
    events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("eid"), col(valueCol).cast("double").as("v"))
      .withColumn("__frame", collect_list(col("v")).over(w))
      .withColumn("med", lowerMed(col("__frame")))
      .withColumn("mad", lowerMed(transform(col("__frame"),
        x => abs(x - col("med")))))
      .select(col("k").as(keyCol), col("eid").as(idCol), col("v"),
        col("med"), col("mad"),
        when(col("mad") > 0.0, abs(col("v") - col("med")) > lit(k) * col("mad"))
          .otherwise(abs(col("v") - col("med")) > 0.0)
          .as("is_anomaly"))
  }

  /** Weighted (lower) median per group: the smallest value whose
    * cumulative weight reaches half the group's total — computed
    * entirely in BIGINT cross-multiplication (2·cumw ≥ W), so the
    * result is always an INPUT value and the pick is exact (the q161
    * nearest-rank stance, weight-generalized). The aggregation-then-
    * window shape runs the cumulative on the per-(group, value) frame,
    * never raw rows.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: Column): DataFrame = {
    val b = df.select(col(groupCol).as("g"), col(valueCol).as("v"),
        weightCol.cast("long").as("w"))
      .filter(col("v").isNotNull && col("w") > 0)
      .groupBy(col("g"), col("v")).agg(sum(col("w")).as("__w"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("g"))
    val wPick = Window.partitionBy(col("g")).orderBy(col("v"))
    b.withColumn("__cw", sum(col("__w")).over(wCum))
      .withColumn("__W", sum(col("__w")).over(wTot))
      .filter(col("__cw") * 2 >= col("__W"))
      .withColumn("__rk", row_number().over(wPick))
      .filter(col("__rk") === 1)
      .select(col("g").as(groupCol), col("__W").as("total_weight"),
        col("v").as("weighted_median"))
  }

  /** Seasonal-baseline deviation census: each event's value against the
    * mean of its (weekday, hour-of-day) bucket — the first-line "is
    * this value weird FOR A TUESDAY 3PM?" anomaly screen that a global
    * mean can't answer. Returns the top-k events by absolute deviation.
    *
    * Determinism: weekday/hour come from pure epoch-µs integer
    * arithmetic ((days+4) mod 7 — no engine dayofweek() convention
    * enters); bucket means are exact-DECIMAL sums with one divide, so
    * each deviation v − µ is the same double in both engines and the
    * (|dev| DESC, id) rank is a total order. 4dp display only.
    *
    * Scale: one partial-agg shuffle to 168 bucket means, broadcast
    * back over a narrow scan, TakeOrderedAndProject top-k — no window,
    * no global sort.
    */
  def seasonalDeviation(events: DataFrame, tsCol: String, idCol: String,
      valueCol: String, k: Int = 20): DataFrame = {
    val dayUs = 86400000000L
    val hourUs = 3600000000L
    val e = events.filter(col(valueCol).isNotNull)
      .select(unix_micros(col(tsCol)).as("us"), col(idCol).as("id"),
        col(valueCol).cast("double").as("v"))
      .withColumn("wd", expr(s"((us div ${dayUs}L) + 4) % 7"))
      .withColumn("hr", expr(s"(us div ${hourUs}L) % 24"))
    val base = e.groupBy(col("wd"), col("hr"))
      .agg((sum(col("v").cast("decimal(18,6)")).cast("decimal(18,6)")
        .cast("double") / count(lit(1)).cast("double")).as("__mu"))
    e.join(broadcast(base), Seq("wd", "hr"))
      .withColumn("__dev", col("v") - col("__mu"))
      .orderBy(abs(col("__dev")).desc, col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("wd").as("weekday"),
        col("hr").as("hour"), col("v").as("value"),
        round(col("__mu"), 4).as("bucket_mean"),
        round(col("__dev"), 4).as("deviation"))
  }

  /** Per-label diagonal-covariance Mahalanobis outliers over an
    * embedding column — the VECTOR member of the outlier family: which
    * embeddings sit furthest from their label's centroid, scaled
    * per-dimension (a dim with natural spread 10 shouldn't drown one
    * with spread 0.01 — the failure mode of plain euclidean residuals,
    * and the reason this is the standard embedding-space mislabel /
    * contamination probe). Diagonal Σ only: the full covariance needs a
    * d×d solve per label, while the diagonal is one more partial-agg —
    * the right scale trade at corpus size.
    *
    * d²(x) = Σ_dims (x_d − μ_d)²/σ²_d over dims with σ²_d > 0
    * (population variance; zero-variance dims carry no information and
    * are skipped on BOTH sides). Top `topK` rows per label by distance.
    *
    * Determinism: components are canonicalized to 6dp doubles; per-dim
    * Σw and Σw² are exact DECIMAL sums, so μ and σ² are fixed-order
    * double expressions on exact inputs; each distance term is rounded
    * 6dp then DECIMAL-summed (order-free); ranking orders by the EXACT
    * d² decimal with id tie-break, so the top-k cut is bit-stable.
    *
    * Scale: one explode pass (rows×dims, narrow), one (label, dim)
    * partial-agg whose result is labels·dims rows (broadcast), one
    * per-vector agg, one per-label top-k window. Nothing wide shuffles.
    */
  def mahalanobisDiag(df: DataFrame, labelCol: String, idCol: String,
      embCol: String, topK: Int = 5): DataFrame = {
    val base = df
      .filter(col(embCol).isNotNull && size(col(embCol)) > 0)
      .select(col(labelCol).as("__l"), col(idCol).as("__id"),
        transform(col(embCol), x => round(x.cast("double"), 6)).as("__w"))
    // r13 (guide §2.4): the exploded component frame feeds two plan
    // branches (per-(label, dim) stats and the distance join) —
    // unstaged, the scan + 6dp transform + 64× posexplode ran twice.
    // One lazy localCheckpoint stores the narrow component rows once
    // (the staging discipline); the decimal aggregation semantics are
    // untouched.
    val comp = base.select(col("__l"), col("__id"),
      posexplode(col("__w")).as(Seq("__dim", "__c")))
      .localCheckpoint(false)
    val stats = comp.groupBy(col("__l"), col("__dim"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__c").cast("decimal(18,6)")).cast("decimal(18,6)")
          .as("__s"),
        sum((col("__c").cast("decimal(18,6)") *
          col("__c").cast("decimal(18,6)")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("__s2"))
    val nd = col("__n").cast("double")
    val sd = col("__s").cast("double")
    val s2d = col("__s2").cast("double")
    val statsD = stats.select(col("__l"), col("__dim"),
      (sd / nd).as("__mean"),
      ((s2d - sd * sd / nd) / nd).as("__var"))
    val d2 = comp.join(broadcast(statsD), Seq("__l", "__dim"))
      .filter(col("__var") > 0)
      .select(col("__l"), col("__id"),
        round((col("__c") - col("__mean")) * (col("__c") - col("__mean")) /
          col("__var"), 6).cast("decimal(18,6)").as("__t"))
      .groupBy(col("__l"), col("__id"))
      .agg(sum(col("__t")).cast("decimal(38,6)").as("__d2"))
    val w = Window.partitionBy(col("__l"))
      .orderBy(col("__d2").desc, col("__id"))
    d2.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= topK)
      .select(col("__l").as(labelCol), col("__id").as(idCol),
        round(sqrt(col("__d2").cast("double")), 4).as("maha_dist"),
        col("rank"))
  }
}
