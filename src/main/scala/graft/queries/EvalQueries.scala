package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._

import Shared._

/** Profiling, evaluation statistics, outliers and cluster quality
  * ([[graft.operators.Profile]], [[graft.operators.Eval]],
  * [[graft.operators.Outliers]], [[graft.operators.ClusterQuality]],
  * [[graft.operators.Association]]).
  */
object EvalQueries {

  val all: Seq[Query] = Seq(
    // One-pass column profiler: row/null/distinct counts, min/max (as
    // strings), total rendered length — all five columns in one agg job
    Query("q106_profile", (s, d) =>
      graft.operators.Profile.profile(
        t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c::VARCHAR) AS min_value, max($c::VARCHAR) AS max_value,
           |  coalesce(sum(length($c::VARCHAR)), 0)::BIGINT AS sum_len
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(one).mkString("\nUNION ALL\n")
    }),

    // Robust per-group outlier tagging (median/MAD): rank-wise exact
    // medians make every double bit-identical cross-engine — raw-double
    // oracle, no display rounding (see Outliers scaladoc)
    Query("q134_robust_outliers", (s, d) =>
      graft.operators.Outliers.robustOutliers(
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("is_outlier")),
      // rank-wise median/MAD replay — 2-element sums and single IEEE ops
      // are bit-identical, so raw doubles compare exactly
      """WITH v AS (SELECT event_id, event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL),
        |r AS (SELECT g, event_id, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM v),
        |m AS (SELECT g, sum(v) / count(*) AS med FROM r
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY g),
        |a AS (SELECT r.g, r.event_id, r.v, abs(r.v - m.med) AS adev, m.med
        |  FROM r JOIN m USING (g)),
        |r2 AS (SELECT g, event_id, adev,
        |    row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM a),
        |md AS (SELECT g, sum(adev) / count(*) AS mad FROM r2
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY g)
        |SELECT a.event_id, a.g AS event_type, a.v AS value, a.med, md.mad,
        |  (a.adev > 3.5 * md.mad) AS is_outlier
        |FROM a JOIN md USING (g)""".stripMargin),

    // Profiler approx-NDV contract (the q33 pattern): HLL++ estimates
    // from the no-Expand approxDistinct plan must land within 10% of the
    // exact distinct counts (default rsd 0.05) for every profiled column
    Query("q115_profile_approx", (s, d) => {
      val docs = t(s, d, "documents")
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val ap = graft.operators.Profile.profile(docs, cols, approxDistinct = true)
        .select(col("col_name"), col("n_distinct").as("__ndv_approx"))
      val ex = graft.operators.Profile.profile(docs, cols)
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct").as("ndv_exact"))
      ex.join(ap, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("ndv_exact"),
          (abs(col("__ndv_approx").cast("double") - col("ndv_exact"))
            <= col("ndv_exact") * lit(0.10)).as("ndv_within_10pct"))
    },
      {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS ndv_exact,
           |  TRUE AS ndv_within_10pct
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(one).mkString("\nUNION ALL\n")
    }),

    // Winsorized per-group stats: clamp value to the exact nearest-rank
    // [p5, p95] (q161 integer rank math), report clip counts + the
    // winsorized mean — robust feature scaling without dropping rows.
    // Clamped values are original data doubles, so the DECIMAL-sum
    // mean stays cross-engine exact
    Query("q180_winsorized_stats", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val q = graft.operators.Outliers.groupQuantiles(
        ev, "event_type", "value", percents = Seq(5, 95))
        .select(col("event_type"), col("p5"), col("p95"))
      ev.join(broadcast(q), Seq("event_type"))
        .withColumn("w", greatest(col("p5"), least(col("p95"), col("value"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("p5")).as("p5"), max(col("p95")).as("p95"),
          sum(when(col("value") < col("p5"), 1L).otherwise(0L))
            .as("clipped_low"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L))
            .as("clipped_high"),
          (decSum(col("w"), 6) / count(lit(1))).as("w_mean"))
    },
      // Winsorized-stats replay: q161's nearest-rank targets for p5/p95,
      // identical greatest/least clamp, DECIMAL-exact mean
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |q AS (SELECT event_type,
        |    max(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS p5,
        |    max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95
        |  FROM r GROUP BY event_type),
        |c AS (SELECT e.event_type, q.p5, q.p95, e.value,
        |    greatest(q.p5, least(q.p95, e.value)) AS w
        |  FROM events e JOIN q ON e.event_type = q.event_type
        |  WHERE e.value IS NOT NULL)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  max(p5) AS p5, max(p95) AS p95,
        |  CAST(sum(CASE WHEN value < p5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_low,
        |  CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_high,
        |  CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS w_mean
        |FROM c GROUP BY event_type""".stripMargin),

    // Simplified (centroid-based) silhouette per label — the linear-
    // time clustering-validity screen (exact silhouette is O(n²));
    // one centroid pass + one points×k broadcast scan, per-point
    // scores aggregated through the 6dp DECIMAL idiom
    Query("q305_silhouette", (s, d) =>
      graft.operators.ClusterQuality.simplifiedSilhouette(
        t(s, d, "embeddings")),
      // Simplified-silhouette replay: same 6dp DECIMAL centroid sums,
      // same single /n divide per component, index-ordered distance
      // folds, per-point scores through DECIMAL(18,6)
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT label, i AS dim, CAST(round(v[i], 6)
        |    AS DECIMAL(18,6)) AS c
        |  FROM (SELECT label, unnest(generate_series(1, len(v))) AS i, v
        |    FROM e)),
        |cs AS (SELECT label, dim,
        |    CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS s,
        |    count(*)::BIGINT AS n
        |  FROM x GROUP BY label, dim),
        |cent AS (SELECT label AS clabel,
        |    list_transform(list(struct_pack(dim := dim, m := s / n)
        |      ORDER BY dim), q -> q.m) AS cvec
        |  FROM cs GROUP BY label),
        |d AS (SELECT vec_id, label, clabel,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(generate_series(1, len(v)),
        |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))),
        |      (a2, x2) -> a2 + x2)) AS dist
        |  FROM e CROSS JOIN cent),
        |p AS (SELECT vec_id, label,
        |    MAX(CASE WHEN clabel = label THEN dist END) AS a,
        |    MIN(CASE WHEN clabel <> label THEN dist END) AS b
        |  FROM d GROUP BY vec_id, label),
        |s2 AS (SELECT label, CAST(round(CASE WHEN greatest(a, b) > 0
        |      THEN (b - a) / greatest(a, b) ELSE 0.0 END, 6)
        |    AS DECIMAL(18,6)) AS sil FROM p)
        |SELECT label, count(*)::BIGINT AS n,
        |  round(CAST(CAST(SUM(sil) AS DECIMAL(18,6)) AS DOUBLE)
        |    / count(*)::DOUBLE, 4) AS mean_silhouette
        |FROM s2 GROUP BY label""".stripMargin),

    // Davies-Bouldin report per label: within-cluster scatter and the
    // worst (Sᵢ+Sⱼ)/Mᵢⱼ confusability ratio — names WHICH cluster the
    // label collides with; same centroid machinery as q305
    Query("q306_davies_bouldin", (s, d) =>
      graft.operators.ClusterQuality.daviesBouldin(
        t(s, d, "embeddings")),
      // Davies-Bouldin replay: same centroids, scatter = 6dp-rounded
      // point→centroid distances through DECIMAL, centroid↔centroid
      // distances as index-ordered folds, NULL on coincident centroids
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT label, i AS dim, CAST(round(v[i], 6)
        |    AS DECIMAL(18,6)) AS c
        |  FROM (SELECT label, unnest(generate_series(1, len(v))) AS i, v
        |    FROM e)),
        |cs AS (SELECT label, dim,
        |    CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS s,
        |    count(*)::BIGINT AS n
        |  FROM x GROUP BY label, dim),
        |cent AS (SELECT label,
        |    list_transform(list(struct_pack(dim := dim, m := s / n)
        |      ORDER BY dim), q -> q.m) AS cvec
        |  FROM cs GROUP BY label),
        |sc AS (SELECT e.label, count(*)::BIGINT AS n,
        |    CAST(CAST(SUM(CAST(round(sqrt(list_reduce(
        |      list_prepend(0.0::DOUBLE,
        |        list_transform(generate_series(1, len(v)),
        |          i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))),
        |      (a2, x2) -> a2 + x2)), 6) AS DECIMAL(18,6)))
        |      AS DECIMAL(18,6)) AS DOUBLE) / count(*)::DOUBLE AS si
        |  FROM e JOIN cent USING (label) GROUP BY e.label),
        |m AS (SELECT i.label, j.label AS jlabel,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(generate_series(1, len(i.cvec)),
        |        k2 -> (i.cvec[k2] - j.cvec[k2])
        |          * (i.cvec[k2] - j.cvec[k2]))),
        |      (a2, x2) -> a2 + x2)) AS mij
        |  FROM cent i CROSS JOIN cent j WHERE i.label <> j.label)
        |SELECT sc.label, max(sc.n) AS n, round(max(sc.si), 4) AS scatter,
        |  round(max(CASE WHEN m.mij > 0
        |    THEN (sc.si + sj.si) / m.mij END), 4) AS db_ratio
        |FROM sc JOIN m ON m.label = sc.label
        |JOIN sc sj ON sj.label = m.jlabel
        |GROUP BY sc.label""".stripMargin),

    // Winsorized mean per event type: values clamped to exact
    // nearest-rank [p05, p95] before averaging — the robust-aggregate
    // companion of q261's MAD outlier census; cent-scaled integers, no
    // FP op decides a clamp
    Query("q303_winsorized_mean", (s, d) =>
      graft.operators.Profile.winsorizedMean(
        Tables.events(s, d).filter(col("value").isNotNull),
        "event_type", round(col("value") * 100, 0).cast("long"))
        .withColumnRenamed("g", "event_type"),
      // Winsorized-mean replay: same cent-scaled integers, same integer
      // nearest-rank picks, same exact clamp and sum, one final divide
      """WITH b AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS xi
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT g, xi,
        |    row_number() OVER (PARTITION BY g ORDER BY xi) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM b),
        |q AS (SELECT g, max(n) AS n,
        |    SUM(CASE WHEN rn = (n * 5 + 99) // 100 THEN xi END) AS lo,
        |    SUM(CASE WHEN rn = (n * 95 + 99) // 100 THEN xi END) AS hi
        |  FROM r GROUP BY g),
        |c AS (SELECT b.g, q.n, q.lo, q.hi,
        |    greatest(q.lo, least(q.hi, b.xi)) AS ci,
        |    b.xi FROM b JOIN q USING (g))
        |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  round(max(lo)::DOUBLE / 100, 4) AS p_lo,
        |  round(max(hi)::DOUBLE / 100, 4) AS p_hi,
        |  CAST(SUM(CASE WHEN ci <> xi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped,
        |  round(CAST(SUM(ci) AS DOUBLE)
        |    / CAST(max(n) * 100 AS DOUBLE), 4) AS winsorized_mean
        |FROM c GROUP BY g""".stripMargin),

    // Fleiss' kappa among THREE cheap quality raters (length, token
    // count, character density) voting on every doc — the multi-rater
    // extension of q311's Cohen pair; all-integer S/c_j moments, three
    // final divides. Null-text docs drop BEFORE unpivot so the panel
    // is constant (m = 3) by construction.
    Query("q318_fleiss_kappa", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val ntok = size(tokens(col("text")))
      def rater(name: String, c: Column): DataFrame =
        docs.select(col("doc_id").as("item"), lit(name).as("rater"),
          c.cast("string").as("cat"))
      val long = rater("len", col("n_chars") >= 400)
        .unionByName(rater("tok", ntok >= 80))
        .unionByName(rater("dense", col("n_chars") <= ntok * 7))
      graft.operators.Eval.fleissKappa(long, "item", "rater", "cat", m = 3)
    },
      // Fleiss replay: same three rater gates, same constant-panel drop;
      // the statistic stays in BIGINT moments (S, c_j) until the three
      // fixed-order double divides
      s"""WITH docs AS (SELECT doc_id, n_chars, len($tokensSql) AS nt
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |r AS (
         |  SELECT doc_id AS it, 'len' AS rater,
         |    (n_chars >= 400)::VARCHAR AS c FROM docs
         |  UNION ALL SELECT doc_id, 'tok', (nt >= 80)::VARCHAR FROM docs
         |  UNION ALL SELECT doc_id, 'dense',
         |    (n_chars <= nt * 7)::VARCHAR FROM docs),
         |nij AS (SELECT it, c, count(*)::BIGINT AS n FROM r GROUP BY 1, 2),
         |itm AS (SELECT it, sum(n)::BIGINT AS mi, sum(n * n)::BIGINT AS s2
         |  FROM nij GROUP BY 1 HAVING sum(n) = 3),
         |tot AS (SELECT count(*)::BIGINT AS n_items, sum(s2)::BIGINT AS ss
         |  FROM itm),
         |cj AS (SELECT c, sum(n)::BIGINT AS cs
         |  FROM nij JOIN itm USING (it) GROUP BY c),
         |c2 AS (SELECT count(*)::BIGINT AS k_categories,
         |  sum(cs * cs)::BIGINT AS cc FROM cj),
         |p AS (SELECT n_items, k_categories,
         |    (ss::DOUBLE - n_items::DOUBLE * 3.0)
         |      / (n_items::DOUBLE * 3.0 * 2.0) AS pbar,
         |    cc::DOUBLE / (n_items::DOUBLE * 3.0 * n_items::DOUBLE * 3.0)
         |      AS pe
         |  FROM tot CROSS JOIN c2)
         |SELECT n_items, k_categories, round(pbar, 4) AS p_bar,
         |  round(pe, 4) AS p_e,
         |  CASE WHEN pe < 1.0 THEN round((pbar - pe) / (1.0 - pe), 4) END
         |    AS kappa
         |FROM p""".stripMargin),

    // Expected calibration error of a length-based confidence score
    // (min(n_chars,1000)/1000) against the token-count quality gate —
    // the scalar rollup of q181's reliability table, with the
    // mean-confidence side; per-bin gap folds exactly to |Σy − Σs|
    Query("q319_ece", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val scored = docs.select(
        (least(col("n_chars"), lit(1000L)).cast("double") / 1000.0)
          .as("score"),
        (size(tokens(col("text"))) >= 80).as("label"))
      graft.operators.Eval.calibrationError(scored, "score", "label",
        bins = 10)
    },
      // ECE replay: same 6dp-decimal scores and bin clamp; the per-bin
      // n·|acc − conf| gap is the exact DECIMAL |Σy − Σs|
      s"""WITH r AS (SELECT
         |    round(least(n_chars, 1000)::DOUBLE / 1000.0, 6)
         |      ::DECIMAL(18,6) AS s,
         |    (len($tokensSql) >= 80)::BIGINT AS y
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |b AS (SELECT least(floor(s::DOUBLE * 10), 9)::BIGINT AS bin, s, y
         |  FROM r),
         |pb AS (SELECT bin, count(*)::BIGINT AS n,
         |    CAST(SUM(s) AS DECIMAL(18,6)) AS sc, sum(y)::BIGINT AS sy
         |  FROM b GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS nt,
         |    CAST(SUM(abs(sy::DECIMAL(18,6) - sc)) AS DECIMAL(38,6)) AS gap
         |  FROM pb)
         |SELECT bin, n, round(sc::DOUBLE / n::DOUBLE, 4) AS conf,
         |  round(sy::DOUBLE / n::DOUBLE, 4) AS acc,
         |  round(gap::DOUBLE / nt::DOUBLE, 4) AS ece
         |FROM pb CROSS JOIN t""".stripMargin),

    // Kendall's tau-b between the char-length and token-count orderings
    // of each language's first 40 docs — are the two cheap "bigger is
    // better" scorers pairwise interchangeable? Exact C/D/P_x/P_y
    // BIGINTs from the bounded top-k self-join, one sqrt at the edge
    Query("q320_kendall_tau", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val top = docs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 40)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          size(tokens(col("text"))).as("n_tokens"))
      graft.operators.Eval.kendallTau(top, "lang", "doc_id", "n_chars",
        "n_tokens")
    },
      // tau-b replay: same per-lang top-40 frame, same pairwise identity
      // ((C − D) / sqrt(untied_x · untied_y) — tie terms absorbed by the
      // not-tied pair counts)
      s"""WITH docs AS (SELECT lang, doc_id, n_chars,
         |    len($tokensSql) AS nt,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |top AS (SELECT lang, doc_id, n_chars::DOUBLE AS x, nt::DOUBLE AS y
         |  FROM docs WHERE rn <= 40),
         |p AS (SELECT l.lang, count(*)::BIGINT AS n_pairs,
         |    SUM(CASE WHEN (l.x - r.x) * (l.y - r.y) > 0
         |      THEN 1 ELSE 0 END)::BIGINT AS concordant,
         |    SUM(CASE WHEN (l.x - r.x) * (l.y - r.y) < 0
         |      THEN 1 ELSE 0 END)::BIGINT AS discordant,
         |    SUM(CASE WHEN l.x <> r.x THEN 1 ELSE 0 END)::BIGINT AS px,
         |    SUM(CASE WHEN l.y <> r.y THEN 1 ELSE 0 END)::BIGINT AS py
         |  FROM top l JOIN top r ON l.lang = r.lang AND l.doc_id < r.doc_id
         |  GROUP BY 1)
         |SELECT lang, n_pairs, concordant, discordant,
         |  CASE WHEN px > 0 AND py > 0 THEN
         |    round((concordant - discordant)::DOUBLE
         |      / sqrt(px::DOUBLE * py::DOUBLE), 4) END AS tau_b
         |FROM p""".stripMargin),

    // Unbiased pass@k (Chen 2021) over a synthesized sample log: each
    // doc is one attempt at task doc_id % 50, "passing" when the
    // length gate fires — ~40 attempts/task at gate SF, reported at
    // k = 1/5/10. Fixed-order per-task product, 6dp DECIMAL mean.
    Query("q321_pass_at_k", (s, d) => {
      val samples = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .select((col("doc_id") % 50).as("task"),
          (col("n_chars") >= 400).as("correct"))
      graft.operators.Eval.passAtK(samples, "task", "correct",
        ks = Seq(1, 5, 10))
    },
      // pass@k replay: same per-task (n, c) frame, same fixed-order
      // left-fold product 1·Π(n−c−j)/(n−j) (each term divided FIRST,
      // then multiplied — the engine's op order), 6dp DECIMAL mean
      """WITH s AS (SELECT doc_id % 50 AS task,
        |    (n_chars >= 400)::BIGINT AS c
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |pt AS (SELECT task, count(*)::BIGINT AS n, sum(c)::BIGINT AS cc
        |  FROM s GROUP BY 1),
        |ks AS (SELECT unnest([1::BIGINT, 5::BIGINT, 10::BIGINT]) AS k),
        |pp AS (SELECT k,
        |    round(1.0::DOUBLE - list_reduce(list_prepend(1.0::DOUBLE,
        |      list_transform(generate_series(0::BIGINT, k - 1),
        |        j -> greatest((n - cc - j)::DOUBLE, 0.0::DOUBLE)
        |          / (n - j)::DOUBLE)),
        |      (a, x) -> a * x), 6)::DECIMAL(18,6) AS p
        |  FROM pt CROSS JOIN ks WHERE n >= k)
        |SELECT k, count(*)::BIGINT AS n_tasks,
        |  round(CAST(SUM(p) AS DECIMAL(38,6))::DOUBLE
        |    / count(*)::DOUBLE, 4) AS pass_at_k
        |FROM pp GROUP BY 1""".stripMargin),

    // Murphy decomposition of the Brier score for q319's length-based
    // confidence: reliability (miscalibration) vs resolution (signal)
    // vs the base-rate uncertainty floor, same 10-bin frame as the ECE
    Query("q322_brier", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val scored = docs.select(
        (least(col("n_chars"), lit(1000L)).cast("double") / 1000.0)
          .as("score"),
        (size(tokens(col("text"))) >= 80).as("label"))
      graft.operators.Eval.brierDecomposition(scored, "score", "label",
        bins = 10)
    },
      // Brier replay: exact 12dp (s−y)² sums, per-bin reliability
      // (Σs−Σy)²/n and resolution (n_b·ΣY − N·Σy_b)²/(n_b·N²) terms
      // rounded 6dp before the bins-row DECIMAL fold — the engine's
      // exact op order
      s"""WITH r AS (SELECT
         |    round(least(n_chars, 1000)::DOUBLE / 1000.0, 6)
         |      ::DECIMAL(18,6) AS s,
         |    (len($tokensSql) >= 80)::BIGINT AS y
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |b AS (SELECT least(floor(s::DOUBLE * 10), 9)::BIGINT AS bin, s, y
         |  FROM r),
         |pb AS (SELECT bin, count(*)::BIGINT AS n,
         |    CAST(SUM(s) AS DECIMAL(18,6)) AS sc, sum(y)::BIGINT AS sy,
         |    CAST(SUM(CAST(CAST(s - y AS DECIMAL(18,6))
         |        * CAST(s - y AS DECIMAL(18,6)) AS DECIMAL(38,12)))
         |      AS DECIMAL(38,12)) AS bs
         |  FROM b GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS nt, sum(sy)::BIGINT AS syt FROM pb),
         |terms AS (SELECT n, bs,
         |    round((sc - sy::DECIMAL(18,6))::DOUBLE
         |        * (sc - sy::DECIMAL(18,6))::DOUBLE / n::DOUBLE, 6)
         |      ::DECIMAL(18,6) AS rel,
         |    round((sy * nt - n * syt)::DOUBLE * (sy * nt - n * syt)::DOUBLE
         |        / (n::DOUBLE * nt::DOUBLE * nt::DOUBLE), 6)
         |      ::DECIMAL(18,6) AS res,
         |    nt, syt
         |  FROM pb CROSS JOIN t)
         |SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS n_bins_used,
         |  round(CAST(SUM(bs) AS DECIMAL(38,12))::DOUBLE
         |    / any_value(nt)::DOUBLE, 4) AS brier,
         |  round(CAST(SUM(rel) AS DECIMAL(38,6))::DOUBLE
         |    / any_value(nt)::DOUBLE, 4) AS reliability,
         |  round(CAST(SUM(res) AS DECIMAL(38,6))::DOUBLE
         |    / any_value(nt)::DOUBLE, 4) AS resolution,
         |  round((any_value(syt)::DOUBLE / any_value(nt)::DOUBLE)
         |    * (1.0::DOUBLE - any_value(syt)::DOUBLE
         |       / any_value(nt)::DOUBLE), 4) AS uncertainty
         |FROM terms""".stripMargin),

    // Per-language confusion report with Matthews correlation: the
    // char-length gate as predictor of the token-count gate — does the
    // cheap proxy hold up per language, or only on the majority one?
    Query("q323_mcc", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      graft.operators.Eval.confusionStats(docs, "lang",
        col("n_chars") >= 400, size(tokens(col("text"))) >= 80)
    },
      // MCC replay: exact 2×2 BIGINT counts per lang; the four MCC
      // factors multiply as DOUBLES under one sqrt, NULL on any
      // degenerate margin
      s"""WITH r AS (SELECT lang, (n_chars >= 400) AS p,
         |    (len($tokensSql) >= 80) AS y
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |g AS (SELECT lang,
         |    sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn
         |  FROM r GROUP BY 1)
         |SELECT lang, tp, fp, fn, tn,
         |  round((tp::DOUBLE + tn::DOUBLE)
         |    / (tp::DOUBLE + fp::DOUBLE + fn::DOUBLE + tn::DOUBLE), 4)
         |    AS accuracy,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE), 4) END
         |    AS "precision",
         |  CASE WHEN tp + fn > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE), 4) END AS recall,
         |  CASE WHEN tp * 2 + fp + fn > 0 THEN
         |    round(tp::DOUBLE * 2 / (tp::DOUBLE * 2 + fp::DOUBLE
         |      + fn::DOUBLE), 4) END AS f1,
         |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
         |      AND tn + fn > 0 THEN
         |    round((tp::DOUBLE * tn::DOUBLE - fp::DOUBLE * fn::DOUBLE)
         |      / sqrt((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |        * (tn::DOUBLE + fp::DOUBLE) * (tn::DOUBLE + fn::DOUBLE)), 4)
         |    END AS mcc
         |FROM g""".stripMargin),

    // Benjamini-Hochberg FDR over per-source sign tests: each source's
    // first 16 docs vote n_chars > 400, the one-sided binomial tail is
    // an EXACT rational (suffix-summed C(16,·) literals over 2^16), and
    // the step-up adjustment runs on the m-row per-source frame
    Query("q324_bh_fdr", (s, d) => {
      val binomTail = Seq(65536L, 65535L, 65519L, 65399L, 64839L, 63019L,
        58651L, 50643L, 39203L, 26333L, 14893L, 6885L, 2517L, 697L, 137L,
        17L, 1L)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val pvals = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 16)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("n_chars") > 400, 1L).otherwise(0L)).as("__s"))
        .filter(col("__n") === 16)
        .select(col("source"),
          (element_at(array(binomTail.map(lit): _*),
            (col("__s") + 1).cast("int")).cast("double") / 65536.0)
            .as("p"))
      graft.operators.Eval.bhAdjust(pvals, "source", "p", alpha = 0.10)
    },
      // BH replay: the same exact binomial-tail rationals (suffix-summed
      // C(16,·) literals over 2^16 — the /65536 divide is a power of two,
      // bit-exact), rank by (p, source), suffix-min of least(m·p/j, 1)
      """WITH tail16 AS (SELECT [65536, 65535, 65519, 65399, 64839, 63019,
        |    58651, 50643, 39203, 26333, 14893, 6885, 2517, 697, 137,
        |    17, 1] AS t),
        |d AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |sv AS (SELECT source, count(*)::BIGINT AS n,
        |    sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)::BIGINT AS s
        |  FROM d WHERE rn <= 16 GROUP BY 1 HAVING count(*) = 16),
        |p AS (SELECT source,
        |    t[(s + 1)::INT]::DOUBLE / 65536.0 AS p
        |  FROM sv CROSS JOIN tail16),
        |m AS (SELECT count(*)::BIGINT AS m FROM p),
        |rk AS (SELECT source, p,
        |    row_number() OVER (ORDER BY p, source) AS rank FROM p),
        |adj AS (SELECT source, p, rank,
        |    min(least(m::DOUBLE * p / rank::DOUBLE, 1.0::DOUBLE))
        |      OVER (ORDER BY rank DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
        |  FROM rk CROSS JOIN m)
        |SELECT source, round(p, 6) AS p_value, rank,
        |  round(a, 6) AS p_adjusted, (a <= 0.10) AS discovery
        |FROM adj""".stripMargin),

    // Krippendorff's alpha over an INCOMPLETE three-rater panel (the
    // q318 raters, but "tok" skips every 3rd doc and "dense" every
    // 5th): the agreement statistic that survives missing ratings,
    // with expected disagreement from the pooled marginals
    Query("q325_krippendorff", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val ntok = size(tokens(col("text")))
      def rater(name: String, c: Column): DataFrame =
        docs.select(col("doc_id").as("unit"), lit(name).as("rater"),
          c.cast("string").as("v"))
      val long = rater("len", col("n_chars") >= 400)
        .unionByName(rater("tok", ntok >= 80).filter(col("unit") % 3 =!= 0))
        .unionByName(
          rater("dense", col("n_chars") <= ntok * 7)
            .filter(col("unit") % 5 =!= 0))
      graft.operators.Eval.krippendorffAlpha(long, "unit", "rater", "v")
    },
      // Krippendorff replay: same incomplete panel, per-unit disagreement
      // rationals rounded 6dp then DECIMAL-summed, D_e on exact BIGINTs
      // with the engine's exact divide order
      s"""WITH docs AS (SELECT doc_id, n_chars, len($tokensSql) AS ntok
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |r AS (
         |  SELECT doc_id AS u, (n_chars >= 400)::VARCHAR AS c FROM docs
         |  UNION ALL SELECT doc_id, (ntok >= 80)::VARCHAR FROM docs
         |    WHERE doc_id % 3 <> 0
         |  UNION ALL SELECT doc_id, (n_chars <= ntok * 7)::VARCHAR FROM docs
         |    WHERE doc_id % 5 <> 0),
         |nuc AS (SELECT u, c, count(*)::BIGINT AS n FROM r GROUP BY 1, 2),
         |unit AS (SELECT u, sum(n)::BIGINT AS nu,
         |    sum(n * n)::BIGINT AS s2
         |  FROM nuc GROUP BY 1 HAVING sum(n) >= 2),
         |ds AS (SELECT count(*)::BIGINT AS n_units,
         |    sum(nu)::BIGINT AS n_values,
         |    CAST(SUM(round((nu * nu - s2)::DOUBLE / (nu - 1)::DOUBLE, 6)
         |      ::DECIMAL(18,6)) AS DECIMAL(38,6)) AS dsum
         |  FROM unit),
         |cj AS (SELECT c, sum(n)::BIGINT AS cs
         |  FROM nuc JOIN unit USING (u) GROUP BY c),
         |c2 AS (SELECT count(*)::BIGINT AS k_categories,
         |  sum(cs * cs)::BIGINT AS cc FROM cj)
         |SELECT n_units, n_values, k_categories,
         |  round(dsum::DOUBLE / n_values::DOUBLE, 4) AS d_o,
         |  round((n_values::DOUBLE * n_values::DOUBLE - cc::DOUBLE)
         |    / (n_values::DOUBLE * (n_values::DOUBLE - 1.0::DOUBLE)), 4)
         |    AS d_e,
         |  CASE WHEN (n_values::DOUBLE * n_values::DOUBLE - cc::DOUBLE)
         |      / (n_values::DOUBLE * (n_values::DOUBLE - 1.0::DOUBLE)) > 0
         |    THEN round(1.0::DOUBLE - (dsum::DOUBLE / n_values::DOUBLE)
         |      / ((n_values::DOUBLE * n_values::DOUBLE - cc::DOUBLE)
         |        / (n_values::DOUBLE * (n_values::DOUBLE - 1.0::DOUBLE))), 4)
         |    END AS alpha
         |FROM ds CROSS JOIN c2""".stripMargin),

    // Diagonal-covariance Mahalanobis outliers per label: the top-5
    // embeddings furthest from their label centroid under per-dim
    // variance scaling — the embedding-space mislabel probe. Exact
    // DECIMAL moment sums, d² DECIMAL ordering, id tie-break.
    Query("q328_mahalanobis", (s, d) =>
      graft.operators.Outliers.mahalanobisDiag(
        t(s, d, "embeddings"), "label", "vec_id", "embedding", topK = 5),
      // Mahalanobis replay: same 6dp component canon, same exact DECIMAL
      // moments, same fixed-order mean/var/term doubles, d²-decimal
      // ordering with vec_id tie-break
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS w
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |c AS (SELECT vec_id, label, i - 1 AS dim, w[i] AS cd,
        |    CAST(w[i] AS DECIMAL(18,6)) AS cdec
        |  FROM (SELECT vec_id, label,
        |      unnest(generate_series(1, len(w))) AS i, w FROM e)),
        |st AS (SELECT label, dim, count(*)::BIGINT AS n,
        |    CAST(SUM(cdec) AS DECIMAL(18,6)) AS s,
        |    CAST(SUM(CAST(cdec * cdec AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS s2
        |  FROM c GROUP BY 1, 2),
        |sd AS (SELECT label, dim,
        |    s::DOUBLE / n::DOUBLE AS mean,
        |    (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / n::DOUBLE
        |      AS var
        |  FROM st),
        |d2 AS (SELECT c.label, vec_id,
        |    CAST(SUM(round((cd - mean) * (cd - mean) / var, 6)
        |      ::DECIMAL(18,6)) AS DECIMAL(38,6)) AS d2
        |  FROM c JOIN sd ON c.label = sd.label AND c.dim = sd.dim
        |  WHERE var > 0 GROUP BY 1, 2),
        |rk AS (SELECT label, vec_id, d2,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY d2 DESC, vec_id) AS rank
        |  FROM d2)
        |SELECT label, vec_id, round(sqrt(d2::DOUBLE), 4) AS maha_dist,
        |  rank
        |FROM rk WHERE rank <= 5""".stripMargin),

    // Kruskal-Wallis H of n_chars across languages: the rank-based
    // k-group test (nonparametric ANOVA) with exact midrank DECIMAL
    // sums and the tie correction — is doc length genuinely
    // lang-dependent, or mean-skewed by giants?
    Query("q333_kruskal", (s, d) =>
      graft.operators.Profile.kruskalWallis(
        t(s, d, "documents").filter(col("text").isNotNull),
        "lang", "n_chars"),
      """WITH b AS (SELECT lang AS g, n_chars::DOUBLE AS v FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |dv AS (SELECT v, count(*)::BIGINT AS t FROM b GROUP BY 1),
        |mid AS (SELECT v,
        |    coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0 AS mr
        |  FROM dv),
        |grp AS (SELECT g, count(*)::BIGINT AS ng,
        |    CAST(SUM(CAST(mr AS DECIMAL(18,1))) AS DECIMAL(18,1)) AS rs
        |  FROM b JOIN mid USING (v) GROUP BY 1),
        |tot AS (SELECT sum(ng)::BIGINT AS n,
        |  count(*)::BIGINT AS n_groups FROM grp),
        |terms AS (SELECT CAST(SUM(round(rs::DOUBLE * rs::DOUBLE
        |    / ng::DOUBLE, 6)::DECIMAL(18,6)) AS DECIMAL(38,6)) AS r2
        |  FROM grp),
        |ties AS (SELECT sum(t * t * t - t)::BIGINT AS ts FROM dv)
        |SELECT n, n_groups,
        |  round(12.0::DOUBLE / (n::DOUBLE * (n::DOUBLE + 1.0))
        |    * r2::DOUBLE - 3.0::DOUBLE * (n::DOUBLE + 1.0), 4) AS h,
        |  CASE WHEN 1.0::DOUBLE - ts::DOUBLE
        |      / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE) > 0 THEN
        |    round((12.0::DOUBLE / (n::DOUBLE * (n::DOUBLE + 1.0))
        |      * r2::DOUBLE - 3.0::DOUBLE * (n::DOUBLE + 1.0))
        |      / (1.0::DOUBLE - ts::DOUBLE
        |        / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 4)
        |    END AS h_corrected
        |FROM tot CROSS JOIN terms CROSS JOIN ties""".stripMargin),

    // Split-conformal coverage per source at α = 1/10: alternating
    // id-blocks WITHIN each source calibrate q̂ over the length-
    // confidence nonconformity (doc_id % 2 would put whole sources in
    // one split — source ≡ doc_id % 20 in this testdata), the rest test
    // it — does the distribution-free 90% guarantee hold per slice, and
    // how big do the prediction sets get?
    Query("q336_conformal", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      graft.operators.Eval.conformalCoverage(docs, "source",
        least(col("n_chars"), lit(1000L)).cast("double") / 1000.0,
        size(tokens(col("text"))) >= 80,
        col("doc_id") % 40 < 20, alphaNum = 1, alphaDen = 10)
    },
      // Conformal replay: same nonconformity, integer-exact rank
      // ⌈(n+1)·9/10⌉ clamped to n, value-at-rank q̂, raw-double compares
      s"""WITH b AS (SELECT source AS g,
         |    least(n_chars, 1000)::DOUBLE / 1000.0 AS s,
         |    (len($tokensSql) >= 80) AS y,
         |    (doc_id % 40 < 20) AS cal
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |nc AS (SELECT g, s, y, cal,
         |    CASE WHEN y THEN 1.0::DOUBLE - s ELSE s END AS ncf FROM b),
         |calr AS (SELECT g, ncf,
         |    row_number() OVER (PARTITION BY g ORDER BY ncf) AS rn,
         |    count(*) OVER (PARTITION BY g) AS n_cal
         |  FROM nc WHERE cal),
         |qh AS (SELECT g, n_cal::BIGINT AS n_cal, ncf AS qhat FROM calr
         |  WHERE rn = least(((n_cal + 1) * 9 + 9) // 10, n_cal)),
         |ts AS (SELECT nc.g, n_cal, qhat,
         |    CASE WHEN ncf <= qhat THEN 1 ELSE 0 END AS cov,
         |    (CASE WHEN 1.0::DOUBLE - s <= qhat THEN 1 ELSE 0 END
         |     + CASE WHEN s <= qhat THEN 1 ELSE 0 END) AS sz
         |  FROM nc JOIN qh ON nc.g = qh.g WHERE NOT cal)
         |SELECT g AS source, n_cal, round(qhat, 6) AS q_hat,
         |  count(*)::BIGINT AS n_test,
         |  round(sum(cov)::DOUBLE / count(*)::DOUBLE, 4) AS coverage,
         |  round(sum(sz)::DOUBLE / count(*)::DOUBLE, 4) AS avg_set_size
         |FROM ts GROUP BY 1, 2, 3""".stripMargin),

    // Balanced half-sample SE of mean doc length per source: 16
    // deterministic hash-bit replicates put a sampling-error bar on
    // every per-source mean without RNG state — reproducible run to run
    Query("q337_half_sample_se", (s, d) =>
      graft.operators.Profile.halfSampleSe(
        t(s, d, "documents").filter(col("text").isNotNull),
        "source", "doc_id", "n_chars", replicates = 16),
      // Half-sample replay: the xxh64 HUGEINT chain, bit-b replicate
      // membership via (hu // 2^b) % 2, exact DECIMAL value sums
      {
      val chain = xxh64Chain("xh", "vecs", "id", Seq("g", "v"))
      s"""WITH vecs AS (SELECT doc_id AS id, source AS g,
         |    round(n_chars::DOUBLE, 6)::DECIMAL(18,6) AS v
         |  FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL
         |    AND n_chars IS NOT NULL),
         |$chain,
         |hu AS (SELECT g, v,
         |    CASE WHEN hs < 0 THEN hs::HUGEINT + 18446744073709551616::HUGEINT
         |         ELSE hs::HUGEINT END AS hu
         |  FROM xh),
         |full0 AS (SELECT g, count(*)::BIGINT AS n,
         |    CAST(SUM(v) AS DECIMAL(38,6)) AS s FROM hu GROUP BY 1),
         |fm AS (SELECT g, n, s::DOUBLE / n::DOUBLE AS mean FROM full0),
         |reps AS (SELECT g, rb, count(*)::BIGINT AS nb,
         |    CAST(SUM(v) AS DECIMAL(38,6)) AS sb
         |  FROM (SELECT g, v, hu, unnest(generate_series(0, 15)) AS rb
         |        FROM hu)
         |  WHERE (hu // (1::HUGEINT << rb)) % 2 = 0 GROUP BY 1, 2),
         |terms AS (SELECT r.g, fm.n, fm.mean,
         |    round((sb::DOUBLE / nb::DOUBLE - mean)
         |      * (sb::DOUBLE / nb::DOUBLE - mean), 6)::DECIMAL(18,6) AS t
         |  FROM reps r JOIN fm ON r.g = fm.g)
         |SELECT g AS source, n, round(mean, 4) AS mean,
         |  count(*)::BIGINT AS n_replicates,
         |  round(sqrt(CAST(SUM(t) AS DECIMAL(38,6))::DOUBLE
         |    / count(*)::DOUBLE), 4) AS se_half_sample
         |FROM terms GROUP BY 1, 2, 3""".stripMargin
    }),

    // Incremental aggregate maintenance: fold the doc_id%3==0 "delta"
    // state into the rest-of-corpus state and emit the merged rollup —
    // the oracle recomputes from the FULL corpus directly, so a pass
    // here PROVES merge == recompute (the don't-rescan-the-world
    // contract of a 100 TB rollup)
    Query("q338_incremental_agg", (s, d) => {
      val docs = t(s, d, "documents")
      val state = graft.operators.Profile.aggState(
        docs.filter(col("doc_id") % 3 =!= 0), "source", "n_chars")
      val delta = graft.operators.Profile.aggState(
        docs.filter(col("doc_id") % 3 === 0), "source", "n_chars")
      graft.operators.Profile.mergeAggState(state, delta, "source")
    },
      // Incremental-agg replay: the oracle computes the rollup from the
      // FULL corpus in one pass — equality proves the engine's
      // state-merge is exact (same 6dp DECIMAL canon, same min/max)
      """WITH v AS (SELECT source AS k,
        |    round(n_chars::DOUBLE, 6)::DECIMAL(18,6) AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL)
        |SELECT k AS source, count(*)::BIGINT AS n,
        |  CAST(CAST(SUM(v) AS DECIMAL(38,6)) AS DOUBLE) AS sum_val,
        |  min(v)::DOUBLE AS min_val, max(v)::DOUBLE AS max_val
        |FROM v GROUP BY 1""".stripMargin),

    // Friedman test over k=3 paired per-user treatments (click / view
    // / purchase counts): within-item midranks as per-row expressions
    // (no within-item shuffle), exact decimal rank sums, the
    // tie-absorbing A-form statistic
    Query("q364_friedman", (s, d) => {
      val pr = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("v0"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("v1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("v2"))
      graft.operators.Profile.friedman(pr,
        Seq(col("v0"), col("v1"), col("v2")))
    },
      // Friedman replay: identical within-row midrank arithmetic, exact
      // decimal rank sums, the same fixed-order double finale
      """WITH pr AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS v0,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS v2
        |  FROM events GROUP BY user_id),
        |rk AS (SELECT
        |    CAST(1.0::DOUBLE + (CASE WHEN v0 < v0 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 < v0 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 < v0 THEN 1 ELSE 0 END)::DOUBLE
        |      + ((CASE WHEN v0 = v0 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 = v0 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 = v0 THEN 1 ELSE 0 END) - 1)::DOUBLE
        |        / 2.0::DOUBLE AS DECIMAL(18,1)) AS r0,
        |    CAST(1.0::DOUBLE + (CASE WHEN v0 < v1 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 < v1 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 < v1 THEN 1 ELSE 0 END)::DOUBLE
        |      + ((CASE WHEN v0 = v1 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 = v1 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 = v1 THEN 1 ELSE 0 END) - 1)::DOUBLE
        |        / 2.0::DOUBLE AS DECIMAL(18,1)) AS r1,
        |    CAST(1.0::DOUBLE + (CASE WHEN v0 < v2 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 < v2 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 < v2 THEN 1 ELSE 0 END)::DOUBLE
        |      + ((CASE WHEN v0 = v2 THEN 1 ELSE 0 END
        |        + CASE WHEN v1 = v2 THEN 1 ELSE 0 END
        |        + CASE WHEN v2 = v2 THEN 1 ELSE 0 END) - 1)::DOUBLE
        |        / 2.0::DOUBLE AS DECIMAL(18,1)) AS r2
        |  FROM pr),
        |a AS (SELECT count(*)::BIGINT AS n_items,
        |    CAST(sum(r0) AS DECIMAL(38,1)) AS br0,
        |    CAST(sum(r1) AS DECIMAL(38,1)) AS br1,
        |    CAST(sum(r2) AS DECIMAL(38,1)) AS br2,
        |    CAST(sum(CAST(r0 * r0 AS DECIMAL(38,2))) AS DECIMAL(38,2))
        |      AS a0,
        |    CAST(sum(CAST(r1 * r1 AS DECIMAL(38,2))) AS DECIMAL(38,2))
        |      AS a1,
        |    CAST(sum(CAST(r2 * r2 AS DECIMAL(38,2))) AS DECIMAL(38,2))
        |      AS a2
        |  FROM rk)
        |SELECT n_items, 3 AS k_treatments,
        |  CASE WHEN a0::DOUBLE + a1::DOUBLE + a2::DOUBLE
        |      - n_items::DOUBLE * 3.0::DOUBLE * 16.0::DOUBLE
        |        / 4.0::DOUBLE > 0.0::DOUBLE
        |  THEN 2.0::DOUBLE * (
        |      (br0::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE / 2.0::DOUBLE)
        |        * (br0::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE
        |          / 2.0::DOUBLE)
        |      + (br1::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE
        |          / 2.0::DOUBLE)
        |        * (br1::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE
        |          / 2.0::DOUBLE)
        |      + (br2::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE
        |          / 2.0::DOUBLE)
        |        * (br2::DOUBLE - n_items::DOUBLE * 4.0::DOUBLE
        |          / 2.0::DOUBLE))
        |    / (a0::DOUBLE + a1::DOUBLE + a2::DOUBLE
        |      - n_items::DOUBLE * 3.0::DOUBLE * 16.0::DOUBLE
        |        / 4.0::DOUBLE)
        |  END AS chi2_f,
        |  2 AS df
        |FROM a""".stripMargin),

    // EXACT top-k via sketch+rescan: constant-state SpaceSaving pass
    // finds candidates (every key above n/capacity is guaranteed
    // tracked), a broadcast-semi rescan computes exact counts for the
    // ≤ capacity survivors only, and the output carries its own
    // completeness certificate — the unbounded-key-space top-k that
    // never aggregates the full key space
    Query("q363_exact_topk_rescan", (s, d) => {
      val keyed = Tables.events(s, d).select(
        when(col("user_id") % 3 === 0, col("user_id") % 7)
          .otherwise(col("user_id")).as("k"))
      graft.operators.Profile.exactTopKRescan(keyed, "k", k = 7,
        capacity = 50)
    },
      // Rescan replay: the oracle computes the TRUE exact top-k over all
      // keys — equality with the engine's candidate-restricted top-k IS
      // the completeness guarantee exercised on skewed data
      """WITH keyed AS (SELECT CASE WHEN user_id % 3 = 0
        |    THEN user_id % 7 ELSE user_id END AS k FROM events),
        |c AS (SELECT k, count(*)::BIGINT AS exact_count
        |  FROM keyed GROUP BY k),
        |t AS (SELECT count(*)::BIGINT AS n FROM keyed),
        |r AS (SELECT k, exact_count, row_number()
        |    OVER (ORDER BY exact_count DESC, k) AS rank FROM c)
        |SELECT CAST(rank AS INT) AS rank, k AS item, exact_count,
        |  exact_count * 50 > t.n AS provably_complete
        |FROM r, t WHERE rank <= 7""".stripMargin),

    // Wilcoxon signed-rank (paired nonparametric): does per-user
    // purchase count systematically differ from click count? Integer
    // pairs → exact .0/.5 midranks → exact DECIMAL W⁺; z is a fixed
    // chain of correctly-rounded ops on exact integers
    Query("q358_wilcoxon", (s, d) => {
      val pairs = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      graft.operators.Profile.wilcoxonSignedRank(pairs, "x", "y")
    },
      // Wilcoxon replay: same pair construction, midranks over the
      // collapsed |d| frame, DECIMAL W⁺, the identical double chain
      """WITH pr AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |d0 AS (SELECT y - x AS d, abs(y - x) AS ad FROM pr WHERE y <> x),
        |dv AS (SELECT ad, count(*) AS t,
        |    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
        |  FROM d0 GROUP BY ad),
        |mr AS (SELECT ad, t, pos,
        |    coalesce(sum(t) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |      + (t + 1)::DOUBLE / 2.0::DOUBLE AS mrank
        |  FROM dv),
        |ag AS (SELECT sum(t)::BIGINT AS np,
        |    CAST(sum(CAST(pos AS DECIMAL(18,1)) * CAST(mrank AS DECIMAL(18,1)))
        |      AS DECIMAL(38,2)) AS wp,
        |    sum(t * t * t - t)::BIGINT AS ts
        |  FROM mr)
        |SELECT np AS n_pairs, wp::DOUBLE AS w_plus,
        |  CASE WHEN np::DOUBLE * (np::DOUBLE + 1.0::DOUBLE)
        |      * (2.0::DOUBLE * np::DOUBLE + 1.0::DOUBLE) / 24.0::DOUBLE
        |      - ts::DOUBLE / 48.0::DOUBLE > 0.0::DOUBLE
        |    THEN (wp::DOUBLE - np::DOUBLE * (np::DOUBLE + 1.0::DOUBLE)
        |        / 4.0::DOUBLE)
        |      / sqrt(np::DOUBLE * (np::DOUBLE + 1.0::DOUBLE)
        |        * (2.0::DOUBLE * np::DOUBLE + 1.0::DOUBLE) / 24.0::DOUBLE
        |        - ts::DOUBLE / 48.0::DOUBLE)
        |  END AS z
        |FROM ag""".stripMargin),

    // Decontamination-gate TUNING sweep: the q348 planted-truth scoring
    // swept over gram length n ∈ {4,6,8,13} in ONE corpus pass (q315
    // multi-τ pattern) — the recall/precision-vs-n curve the curator
    // dials. Truth is FIXED across gates (planted ∧ ≥ 4 tokens — the
    // smallest gate's catchability floor), so recall is monotone
    // non-increasing and precision monotone non-decreasing in n.
    Query("q349_decontam_sweep", (s, d) => {
      val ns = Seq(4, 6, 8, 13)
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val evalDf = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          upper(col("text")).as("text"))
      val flagged = graft.operators.TrainingData
        .decontaminateSweep(docs, evalDf, "doc_id", "text", ns)
      val base = docs.select(col("doc_id"),
          (col("doc_id") % 5 === 0 &&
            size(tokens(col("text"))) >= ns.min).as("truth"),
          explode(array(ns.map(lit): _*)).as("n"))
      val joined = base
        .join(flagged.select(col("id").as("doc_id"), col("n"),
          col("contaminated")), Seq("doc_id", "n"), "left")
        .select(
          concat(lit("decontam_"), col("n").cast("string"), lit("gram"))
            .as("gate"),
          coalesce(col("contaminated"), lit(false)).as("pred"),
          col("truth"))
      graft.operators.Eval.confusionStats(joined, "gate", col("pred"),
        col("truth"))
    },
      // Sweep replay: one tokenization, per-(n, doc) distinct gram lists
      // from the shared CTE, string-equality gram matching per n, fixed
      // planted∧nt≥4 truth, the engine's exact confusion arithmetic
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |ns AS (SELECT unnest([4, 6, 8, 13]) AS n),
         |sh AS MATERIALIZED (SELECT doc_id, n, len(toks) AS nt,
         |  list_distinct(list_transform(
         |    generate_series(1, len(toks) - n + 1),
         |    i -> array_to_string(toks[i:i+n-1], ' '))) AS g
         | FROM tk CROSS JOIN ns),
         |ev AS (SELECT DISTINCT n, gram FROM
         |  (SELECT n, unnest(g) AS gram FROM sh WHERE doc_id % 5 = 0)),
         |tr AS (SELECT doc_id, n, unnest(g) AS gram FROM sh),
         |fl AS (SELECT DISTINCT tr.doc_id, tr.n
         |  FROM tr JOIN ev USING (n, gram)),
         |base AS (SELECT sh.doc_id, sh.n,
         |    (sh.doc_id % 5 = 0 AND sh.nt >= 4) AS y,
         |    (fl.doc_id IS NOT NULL) AS p
         |  FROM sh LEFT JOIN fl
         |    ON sh.doc_id = fl.doc_id AND sh.n = fl.n),
         |c AS (SELECT n,
         |    sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)::BIGINT
         |      AS tn
         |  FROM base GROUP BY n)
         |SELECT 'decontam_' || n || 'gram' AS gate, tp, fp, fn, tn,
         |  round((tp::DOUBLE + tn::DOUBLE)
         |    / (tp::DOUBLE + fp::DOUBLE + fn::DOUBLE + tn::DOUBLE), 4)
         |    AS accuracy,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE), 4) END
         |    AS "precision",
         |  CASE WHEN tp + fn > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE), 4) END AS recall,
         |  CASE WHEN tp * 2 + fp + fn > 0 THEN
         |    round(tp::DOUBLE * 2 / (tp::DOUBLE * 2 + fp::DOUBLE
         |      + fn::DOUBLE), 4) END AS f1,
         |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
         |      AND tn + fn > 0 THEN
         |    round((tp::DOUBLE * tn::DOUBLE - fp::DOUBLE * fn::DOUBLE)
         |      / sqrt((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |        * (tn::DOUBLE + fp::DOUBLE) * (tn::DOUBLE + fn::DOUBLE)),
         |      4) END AS mcc
         |FROM c""".stripMargin),

    Query("q348_decontam_eval", (s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val evalDf = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          upper(col("text")).as("text"))
      val flagged = graft.operators.TrainingData
        .decontaminate(docs, evalDf, "doc_id", "text", n = 8)
      val truth = docs.select(col("doc_id"),
        (col("doc_id") % 5 === 0 && size(tokens(col("text"))) >= 8)
          .as("truth"))
      val joined = truth
        .join(flagged.select(col("id").as("doc_id"), col("contaminated")),
          Seq("doc_id"), "left")
        .select(lit("decontam_8gram").as("gate"),
          coalesce(col("contaminated"), lit(false)).as("pred"),
          col("truth"))
      graft.operators.Eval.confusionStats(joined, "gate", col("pred"),
        col("truth"))
    },
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |sh AS (SELECT doc_id, len(toks) AS nt,
         |  list_distinct(list_transform(generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' '))) AS g
         | FROM tk),
         |ev AS (SELECT DISTINCT gram FROM
         |  (SELECT unnest(g) AS gram FROM sh
         |   WHERE doc_id % 5 = 0 AND nt >= 8)),
         |tr AS (SELECT doc_id, unnest(g) AS gram FROM sh WHERE nt >= 8),
         |fl AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (gram)),
         |base AS (SELECT sh.doc_id,
         |    (sh.doc_id % 5 = 0 AND nt >= 8) AS y,
         |    (fl.doc_id IS NOT NULL) AS p
         |  FROM sh LEFT JOIN fl ON sh.doc_id = fl.doc_id),
         |c AS (SELECT
         |    sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)::BIGINT
         |      AS tn
         |  FROM base)
         |SELECT 'decontam_8gram' AS gate, tp, fp, fn, tn,
         |  round((tp::DOUBLE + tn::DOUBLE)
         |    / (tp::DOUBLE + fp::DOUBLE + fn::DOUBLE + tn::DOUBLE), 4)
         |    AS accuracy,
         |  CASE WHEN tp + fp > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE), 4) END
         |    AS "precision",
         |  CASE WHEN tp + fn > 0 THEN
         |    round(tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE), 4) END AS recall,
         |  CASE WHEN tp * 2 + fp + fn > 0 THEN
         |    round(tp::DOUBLE * 2 / (tp::DOUBLE * 2 + fp::DOUBLE
         |      + fn::DOUBLE), 4) END AS f1,
         |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
         |      AND tn + fn > 0 THEN
         |    round((tp::DOUBLE * tn::DOUBLE - fp::DOUBLE * fn::DOUBLE)
         |      / sqrt((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |        * (tn::DOUBLE + fp::DOUBLE) * (tn::DOUBLE + fn::DOUBLE)),
         |      4) END AS mcc
         |FROM c""".stripMargin),

    // Exact 1-D Wasserstein distance of each source's length
    // distribution from src0's — the CDF-integral drift number in
    // character units (KS takes the sup, PSI bins; W1 integrates).
    // Pure BIGINT segment terms, one divide per source.
    Query("q343_emd", (s, d) =>
      graft.operators.Profile.emd1d(
        t(s, d, "documents").filter(col("text").isNotNull),
        "source", "n_chars", refGroup = "src0"),
      // EMD replay: merged-support cumulative counts, BIGINT
      // |c_g·n_ref − c_ref·n_g|·gap segment terms, one divide
      """WITH b AS (SELECT source AS g, n_chars::BIGINT AS v
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |ref AS (SELECT v, count(*)::BIGINT AS cr FROM b
        |  WHERE g = 'src0' GROUP BY 1),
        |oth AS (SELECT g, v, count(*)::BIGINT AS cg FROM b
        |  WHERE g <> 'src0' GROUP BY 1, 2),
        |refall AS (SELECT gs.g, ref.v, ref.cr FROM
        |  (SELECT DISTINCT g FROM oth) gs CROSS JOIN ref),
        |joined AS (SELECT coalesce(refall.g, oth.g) AS g,
        |    coalesce(refall.v, oth.v) AS v, refall.cr, oth.cg
        |  FROM refall FULL OUTER JOIN oth
        |    ON refall.g = oth.g AND refall.v = oth.v),
        |cum AS (SELECT g, v,
        |    sum(coalesce(cg, 0)) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(coalesce(cr, 0)) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    coalesce(lead(v, 1) OVER (PARTITION BY g ORDER BY v) - v, 0)
        |      AS gap
        |  FROM joined),
        |na AS (SELECT g, sum(cg)::BIGINT AS na FROM oth GROUP BY 1),
        |nb AS (SELECT sum(cr)::BIGINT AS nb FROM ref)
        |SELECT cum.g AS source, na.na AS n, nb.nb AS n_ref,
        |  round(sum(abs(ca * nb.nb - cb * na.na) * gap)::DOUBLE
        |    / (na.na * nb.nb)::DOUBLE, 4) AS w1
        |FROM cum JOIN na ON cum.g = na.g CROSS JOIN nb
        |GROUP BY 1, 2, 3""".stripMargin),

    // Bradley-Terry strength fit over a synthesized model arena: each
    // event is one pairwise comparison — champion = its event_type,
    // challenger = the (event_id % k)-th of the k ordered distinct
    // types (self-matches dropped), champion wins iff value > 60. The
    // million-row log reduces to the k×k matrix in one pass; 8 MM
    // iterations run on that bounded frame. The k-type list is a
    // collected bounded contract (a handful of types by construction).
    Query("q296_bradley_terry", (s, d) => {
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type").as("a"), col("value"))
      val types = ev.select(col("a")).distinct().orderBy(col("a"))
        .collect().map(_.getString(0)).toSeq
      val matches = ev.select(col("a"),
        element_at(array(types.map(lit(_)): _*),
          (col("event_id") % types.length).cast("int") + 1).as("b"),
        (col("value") > 60.0).as("a_wins"))
      graft.operators.Eval.bradleyTerry(matches, "a", "b", "a_wins",
        iterations = 8)
    },
      // Bradley-Terry replay: same arena synthesis, exact integer W/n
      // matrix, 8 unrolled MM iterations with j-ordered denominator
      // folds — the pageRank iteration-unroll pattern
      // MATERIALIZED iteration CTEs: each s_i is referenced twice by
      // d_{i+1} (champion and challenger strength), so the inline form
      // re-derives the whole chain per reference — 35 s of oracle budget;
      // materialized, the 8-round unroll evaluates each round once (2 s)
      {
      val its = (1 to 8).map { i =>
        s"""d$i AS (SELECT p.i,
           |    list_reduce(list_prepend(0.0::DOUBLE,
           |      list(p.n::DOUBLE / (si.s + sj.s) ORDER BY p.j)),
           |      (acc, x) -> acc + x) AS d
           |  FROM pair p JOIN s${i - 1} si ON si.i = p.i
           |    JOIN s${i - 1} sj ON sj.i = p.j
           |  GROUP BY p.i),
           |s$i AS MATERIALIZED (SELECT w.i, w.wtot::DOUBLE / d.d AS s
           |  FROM wins w JOIN d$i d ON d.i = w.i)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT event_id, event_type AS a, value
         |  FROM events WHERE value IS NOT NULL),
         |tl AS (SELECT list(t ORDER BY t) AS ts
         |  FROM (SELECT DISTINCT a AS t FROM ev)),
         |m AS MATERIALIZED (SELECT a,
         |    ts[CAST(event_id % len(ts) AS INT) + 1] AS b,
         |    (value > 60.0::DOUBLE) AS w
         |  FROM ev CROSS JOIN tl),
         |mm AS (SELECT a AS i, b AS j, CASE WHEN w THEN 1 ELSE 0 END AS wi
         |    FROM m WHERE a <> b
         |  UNION ALL
         |  SELECT b AS i, a AS j, CASE WHEN w THEN 0 ELSE 1 END AS wi
         |    FROM m WHERE a <> b),
         |pair AS MATERIALIZED (SELECT i, j, count(*)::BIGINT AS n,
         |    SUM(wi)::BIGINT AS w
         |  FROM mm GROUP BY i, j),
         |wins AS MATERIALIZED (SELECT i, SUM(w)::BIGINT AS wtot
         |  FROM pair GROUP BY i),
         |s0 AS (SELECT i, 1.0::DOUBLE AS s FROM wins),
         |$its
         |SELECT i AS model, round(s, 6) AS bt_score FROM s8""".stripMargin
    }),

    // Robust outlier census: median/MAD modified-z per event type on
    // cent-scaled integer values — doubled medians (no interpolation
    // divide) and a cross-multiplied integer cutoff test, so no FP op
    // decides which rows are outliers
    Query("q261_mad_outliers", (s, d) =>
      graft.operators.Profile.madOutliers(
        Tables.events(s, d).filter(col("value").isNotNull),
        "event_type", round(col("value") * 100, 0).cast("long"))
        .withColumnRenamed("g", "event_type"),
      // MAD replay: identical rank-position doubled medians and the same
      // integer cross-multiplied cutoff — rank ties are value-ties, so
      // position selection is order-independent
      """WITH b AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS xi
        |  FROM events WHERE value IS NOT NULL),
        |r1 AS (SELECT g, xi,
        |    row_number() OVER (PARTITION BY g ORDER BY xi) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM b),
        |m AS (SELECT g,
        |    sum(CASE WHEN rn = (n + 1) // 2 THEN xi END)
        |      + sum(CASE WHEN rn = (n + 2) // 2 THEN xi END) AS med2
        |  FROM r1 GROUP BY g),
        |d AS (SELECT b.g, xi, med2, abs(2 * xi - med2) AS ai
        |  FROM b JOIN m USING (g)),
        |r2 AS (SELECT g, ai,
        |    row_number() OVER (PARTITION BY g ORDER BY ai) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM d),
        |m2 AS (SELECT g,
        |    sum(CASE WHEN rn = (n + 1) // 2 THEN ai END)
        |      + sum(CASE WHEN rn = (n + 2) // 2 THEN ai END) AS mad2
        |  FROM r2 GROUP BY g),
        |f AS (SELECT d.g, ai, d.med2, mad2 FROM d JOIN m2 USING (g))
        |SELECT g AS event_type, count(*)::BIGINT AS n,
        |  round(min(med2)::DOUBLE / 200.0, 4) AS median,
        |  round(min(mad2)::DOUBLE / 400.0, 4) AS mad,
        |  sum(CASE WHEN mad2 > 0 AND 1349 * ai > 3500 * mad2
        |    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |  min(mad2) = 0 AS degenerate
        |FROM f GROUP BY g""".stripMargin),

    // Functional-dependency / label-purity audit on source → lang:
    // per source, distinct-label count, majority label, violation count
    // and rate — the label-consistency report
    Query("q192_fd_audit", (s, d) =>
      graft.operators.Profile.fdAudit(t(s, d, "documents"),
        "source", "lang"),
      // FD-audit replay: (lhs, rhs) counts, (count DESC, rhs) majority,
      // exact violation quotients
      """WITH pr AS (SELECT source AS lhs, lang AS rhs, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |rk AS (SELECT lhs, rhs, c, row_number() OVER (PARTITION BY lhs
        |    ORDER BY c DESC, rhs) AS rk FROM pr)
        |SELECT lhs AS source, sum(c)::BIGINT AS n_rows,
        |  count(*)::BIGINT AS n_rhs,
        |  max(CASE WHEN rk = 1 THEN rhs END) AS majority_rhs,
        |  (sum(c) - max(CASE WHEN rk = 1 THEN c END))::BIGINT
        |    AS n_violations,
        |  round((sum(c) - max(CASE WHEN rk = 1 THEN c END))::DOUBLE
        |    / sum(c), 4) AS violation_rate
        |FROM rk GROUP BY lhs""".stripMargin),

    // Rolling median/MAD anomaly flags: per user over the trailing 7
    // events, |x − med| > 3·mad on exact lower-median math — raw
    // doubles bit-exact (every cell is an input value or one IEEE op)
    Query("q193_rolling_mad", (s, d) =>
      graft.operators.Outliers.rollingMad(Tables.events(s, d),
        "user_id", "ts", "event_id", "value", window = 7, k = 3.0),
      // Rolling-MAD replay: identical trailing-7 frames via list() window,
      // same lower-median picks and single-op IEEE arithmetic
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS eid, value AS v FROM events
        |  WHERE value IS NOT NULL),
        |f AS (SELECT k, eid, v, list_sort(list(v) OVER (PARTITION BY k
        |    ORDER BY us, eid ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |    AS fr
        |  FROM e),
        |m AS (SELECT k, eid, v, fr, fr[(len(fr) + 1) // 2] AS med FROM f),
        |d AS (SELECT k, eid, v, med,
        |    list_sort(list_transform(fr, x -> abs(x - med))) AS ad FROM m)
        |SELECT k AS user_id, eid AS event_id, v, med,
        |  ad[(len(ad) + 1) // 2] AS mad,
        |  CASE WHEN ad[(len(ad) + 1) // 2] > 0.0
        |    THEN abs(v - med) > 3.0 * ad[(len(ad) + 1) // 2]
        |    ELSE abs(v - med) > 0.0 END AS is_anomaly
        |FROM d""".stripMargin),

    // Two-sample KS drift: each source's n_chars distribution vs the
    // rest of the corpus — binning-free sup-of-CDF-gap, exact integer
    // argmax (q167 PSI's companion)
    Query("q195_ks_test", (s, d) =>
      graft.operators.Profile.ksTest(t(s, d, "documents"),
        "source", "n_chars"),
      // KS replay: dense distinct-values × groups frame, per-group and
      // global cumulative counts, cross-multiplied BIGINT sup,
      // (num DESC, v) argmax
      """WITH b AS (SELECT source AS g, n_chars AS v FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |cnt AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |pvc AS (SELECT v, sum(count(*)) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cgc
        |  FROM b GROUP BY v),
        |pg AS (SELECT g, count(*) AS ng FROM b GROUP BY 1),
        |tt AS (SELECT count(*) AS nt FROM b),
        |dense AS (SELECT pg.g, pvc.v, pvc.cgc, pg.ng,
        |    coalesce(cnt.c, 0) AS c
        |  FROM pg CROSS JOIN pvc
        |  LEFT JOIN cnt ON cnt.g = pg.g AND cnt.v = pvc.v),
        |cum AS (SELECT g, v, ng, cgc, sum(c) OVER (PARTITION BY g
        |    ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cs
        |  FROM dense),
        |sc AS (SELECT g, v, ng, (nt - ng) AS nr,
        |    abs(cs * (nt - ng) - (cgc - cs) * ng) AS num
        |  FROM cum CROSS JOIN tt),
        |rk AS (SELECT g, v, ng, nr, num,
        |    row_number() OVER (PARTITION BY g ORDER BY num DESC, v) AS rn
        |  FROM sc)
        |SELECT g AS source, ng::BIGINT AS n_group, nr::BIGINT AS n_rest,
        |  round(num::DOUBLE / (ng * nr)::DOUBLE, 4) AS d_stat,
        |  v AS at_value
        |FROM rk WHERE rn = 1""".stripMargin),

    // Mutual information source↔lang: entropies + MI/NMI via q142-style
    // key-ordered folds on aggregate frames; the fdAudit/chi-square
    // companion that quantifies association strength
    Query("q196_mutual_info", (s, d) =>
      graft.operators.Profile.mutualInformation(t(s, d, "documents"),
        "source", "lang"),
      // MI replay: q142-style key-ordered Σ c·ln c folds for both
      // marginals + the joint, H = ln n − s/n, 4dp with the +0.0
      // −0.0 canonicalization on MI/NMI
      """WITH pr AS (SELECT source AS l, lang AS r, count(*) AS c
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |lm AS (SELECT l, sum(c)::BIGINT AS c FROM pr GROUP BY 1),
        |rm AS (SELECT r, sum(c)::BIGINT AS c FROM pr GROUP BY 1),
        |fl AS (SELECT sum(c)::BIGINT AS n,
        |    CAST(CAST(SUM((c::DOUBLE * ln(c))::DECIMAL(38,18))
        |      AS DECIMAL(38,18)) AS DOUBLE) AS s
        |  FROM lm),
        |fr AS (SELECT sum(c)::BIGINT AS n,
        |    CAST(CAST(SUM((c::DOUBLE * ln(c))::DECIMAL(38,18))
        |      AS DECIMAL(38,18)) AS DOUBLE) AS s
        |  FROM rm),
        |fj AS (SELECT sum(c)::BIGINT AS n,
        |    CAST(CAST(SUM((c::DOUBLE * ln(c))::DECIMAL(38,18))
        |      AS DECIMAL(38,18)) AS DOUBLE) AS s
        |  FROM pr)
        |SELECT fj.n AS n_rows,
        |  round(ln(fl.n) - fl.s / fl.n, 4) AS h_lhs,
        |  round(ln(fr.n) - fr.s / fr.n, 4) AS h_rhs,
        |  round(ln(fj.n) - fj.s / fj.n, 4) AS h_joint,
        |  round((ln(fl.n) - fl.s / fl.n) + (ln(fr.n) - fr.s / fr.n)
        |    - (ln(fj.n) - fj.s / fj.n), 4) + 0.0 AS mi,
        |  CASE WHEN least(ln(fl.n) - fl.s / fl.n,
        |      ln(fr.n) - fr.s / fr.n) > 0.0
        |    THEN round(((ln(fl.n) - fl.s / fl.n) + (ln(fr.n) - fr.s / fr.n)
        |        - (ln(fj.n) - fj.s / fj.n))
        |      / least(ln(fl.n) - fl.s / fl.n, ln(fr.n) - fr.s / fr.n), 4)
        |      + 0.0
        |    END AS nmi
        |FROM fl CROSS JOIN fr CROSS JOIN fj""".stripMargin),

    // Benford first-digit audit on n_chars: exact string-derived digit
    // counts vs log10(1+1/d), per-digit chi-square contributions
    Query("q207_benford", (s, d) =>
      graft.operators.Profile.benford(t(s, d, "documents"), "n_chars"),
      // Benford replay: string-derived first digit (no FP), double-cast
      // literals (the DECIMAL-literal pitfall), square by self-multiply
      """WITH b AS (SELECT substring((n_chars::BIGINT)::VARCHAR, 1, 1)::INT
        |    AS digit FROM documents WHERE n_chars > 0),
        |c0 AS (SELECT digit, count(*)::BIGINT AS n_obs FROM b GROUP BY 1),
        |d AS (SELECT unnest(generate_series(1, 9))::INT AS digit),
        |c AS (SELECT d.digit, coalesce(c0.n_obs, 0)::BIGINT AS n_obs
        |  FROM d LEFT JOIN c0 USING (digit)),
        |t AS (SELECT sum(n_obs)::BIGINT AS n FROM c)
        |SELECT digit, n_obs,
        |  round(n_obs::DOUBLE / n, 4) AS obs_frac,
        |  round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit), 4) AS exp_frac,
        |  round(((n_obs::DOUBLE - log10(1.0::DOUBLE + 1.0::DOUBLE / digit)
        |      * n) * (n_obs::DOUBLE
        |      - log10(1.0::DOUBLE + 1.0::DOUBLE / digit) * n))
        |    / (log10(1.0::DOUBLE + 1.0::DOUBLE / digit) * n), 4)
        |    AS chi2_part
        |FROM c CROSS JOIN t""".stripMargin),

    // Per-source skewness + excess kurtosis of n_chars: exact-BIGINT
    // mean shift, exact DECIMAL(38,0) power sums S1..S4 of d = x − c
    // (order-free partial aggs), one fixed double sequence at the end
    Query("q211_skew_kurtosis", (s, d) =>
      graft.operators.Profile.skewKurtosis(t(s, d, "documents"),
        "source", "n_chars"),
      // Skew/kurtosis replay: exact-BIGINT mean shift, exact HUGEINT
      // power sums of d = x − c, the same fixed double sequence for the
      // central-moment assembly and the statistic
      """WITH b AS (SELECT source AS g, n_chars::BIGINT AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |p AS (SELECT g, count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx
        |  FROM b GROUP BY g),
        |c AS (SELECT g, n, sx, sx // n::HUGEINT AS c FROM p),
        |dd AS (SELECT b.g, (b.x::HUGEINT - c.c) AS d
        |  FROM b JOIN c ON b.g = c.g),
        |s AS (SELECT g, sum(d)::HUGEINT AS s1, sum(d * d)::HUGEINT AS s2,
        |    sum((d * d) * d)::HUGEINT AS s3,
        |    sum((d * d) * (d * d))::HUGEINT AS s4
        |  FROM dd GROUP BY g),
        |m AS (SELECT c.g, c.n, c.sx,
        |    c.n::DOUBLE AS nd, s1::DOUBLE AS s1d, s2::DOUBLE AS s2d,
        |    s3::DOUBLE AS s3d, s4::DOUBLE AS s4d
        |  FROM s JOIN c ON s.g = c.g),
        |f AS (SELECT g, n, sx::DOUBLE / nd AS mu,
        |    s2d - s1d * s1d / nd AS m2,
        |    s3d - 3.0::DOUBLE * s1d * s2d / nd
        |      + 2.0::DOUBLE * s1d * s1d * s1d / (nd * nd) AS m3,
        |    s4d - 4.0::DOUBLE * s1d * s3d / nd
        |      + 6.0::DOUBLE * s1d * s1d * s2d / (nd * nd)
        |      - 3.0::DOUBLE * s1d * s1d * s1d * s1d / (nd * nd * nd) AS m4
        |  FROM m)
        |SELECT g AS source, n, round(mu, 4) AS mean,
        |  round(sqrt(n::DOUBLE) * m3 / (m2 * sqrt(m2)), 4) AS skewness,
        |  round(n::DOUBLE * m4 / (m2 * m2) - 3.0::DOUBLE, 4)
        |    AS excess_kurtosis
        |FROM f WHERE n >= 2 AND m2 > 0.0""".stripMargin),

    // Seasonal-baseline anomaly census: top-20 events by |value −
    // (weekday, hour)-bucket mean|, pure-integer calendar buckets
    Query("q221_seasonal_deviation", (s, d) =>
      graft.operators.Outliers.seasonalDeviation(Tables.events(s, d),
        "ts", "event_id", "value"),
      // Seasonal-deviation replay: identical integer calendar buckets,
      // DECIMAL-exact bucket means, |raw dev| ordering with id tie-break
      """WITH e AS (SELECT epoch_us(ts) AS us, event_id AS id,
        |    value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
        |b AS (SELECT ((us // 86400000000) + 4) % 7 AS wd,
        |    (us // 3600000000) % 24 AS hr, id, v FROM e),
        |m AS (SELECT wd, hr,
        |    (sum(v::DECIMAL(18,6))::DECIMAL(18,6))::DOUBLE
        |      / count(*)::DOUBLE AS mu
        |  FROM b GROUP BY wd, hr)
        |SELECT b.id AS event_id, b.wd AS weekday, b.hr AS hour,
        |  b.v AS value, round(m.mu, 4) AS bucket_mean,
        |  round(b.v - m.mu, 4) AS deviation
        |FROM b JOIN m USING (wd, hr)
        |ORDER BY abs(b.v - m.mu) DESC, b.id LIMIT 20""".stripMargin),

    // Frequent part triples (a-priori level 3) in orders, support ≥ 2
    Query("q235_frequent_triples", (s, d) =>
      graft.operators.Association.frequentTriples(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2L),
      // Triple replay: level-1 prune only — same answer (downward
      // closure), the level-2 semi-joins are a cost optimization
      // MATERIALIZED CTEs break DuckDB's join-order decision for the
      // 3-way basket self-join: the inline form planned as a near-cross
      // loop (measured 486 s — 60% of the whole 804 s oracle budget,
      // the driver-timeout prime suspect); staged pairs-then-extend runs
      // in 0.7 s, bit-identical output
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT b) AS nb FROM it),
        |ic AS (SELECT i FROM it GROUP BY i HAVING count(*) >= 2),
        |f AS MATERIALIZED (SELECT it.b, it.i FROM it JOIN ic ON ic.i = it.i),
        |p2 AS MATERIALIZED (SELECT a.b, a.i AS i1, b.i AS i2
        |  FROM f a JOIN f b ON a.b = b.b AND a.i < b.i),
        |tr AS (SELECT p2.i1, p2.i2, c.i AS i3,
        |    count(*)::BIGINT AS triple_count
        |  FROM p2 JOIN f c ON p2.b = c.b AND c.i > p2.i2
        |  GROUP BY p2.i1, p2.i2, c.i HAVING count(*) >= 2)
        |SELECT i1, i2, i3, triple_count,
        |  triple_count::DOUBLE / n.nb AS support
        |FROM tr CROSS JOIN n""".stripMargin),

    // 2-D skyline: parts no other part beats on BOTH price and size
    // (minimize both) — running-min over the distinct metric pairs
    Query("q165_skyline", (s, d) =>
      graft.operators.Outliers.skyline2D(
        t(s, d, "part"), "p_retailprice", "p_size"),
      // Skyline oracle: the textbook NOT EXISTS dominance predicate
      """WITH p AS (SELECT DISTINCT p_retailprice, p_size FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
        |SELECT p_retailprice, p_size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))""".stripMargin),

    // Exact per-group percentiles (nearest-rank, integer rank math —
    // no q·n double multiply): p50/p90/p95/p99 of value per event_type
    Query("q161_exact_percentiles", (s, d) =>
      graft.operators.Outliers.groupQuantiles(
        Tables.events(s, d).select(col("event_type"), col("value")),
        "event_type", "value", percents = Seq(50, 90, 95, 99)),
      // Exact-percentile replay: identical nearest-rank integer targets
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS p50,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN value END) AS p90,
        |  max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
        |FROM r GROUP BY event_type""".stripMargin),

    // Market-basket frequent pairs over order line items: a-priori
    // pruning before the basket self-join; exact counts, fixed-order
    // quotient support/confidence/lift
    Query("q157_frequent_pairs", (s, d) =>
      graft.operators.Association.frequentPairs(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2L),
      // Frequent-pairs replay: same distinct/prune/pair/count chain, same
      // fixed-order quotients
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT b)::BIGINT AS nb FROM it),
        |ic AS (SELECT i, count(*) AS ci FROM it GROUP BY i
        |  HAVING count(*) >= 2),
        |f AS (SELECT it.b, it.i, ic.ci FROM it JOIN ic ON ic.i = it.i),
        |p AS (SELECT a.i AS i1, c.i AS i2, a.ci AS c1, c.ci AS c2,
        |    count(*) AS pair_count
        |  FROM f a JOIN f c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT i1, i2, pair_count::BIGINT AS pair_count,
        |  pair_count::DOUBLE / nb AS support,
        |  pair_count::DOUBLE / c1 AS confidence_1_2,
        |  (pair_count::DOUBLE / c1) / (c2::DOUBLE / nb) AS lift
        |FROM p CROSS JOIN n""".stripMargin))
}
