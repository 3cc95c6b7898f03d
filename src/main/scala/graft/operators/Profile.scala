package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass column profiler — the engine-side equivalent of the
  * reference's integrity report (`etl_meteo.py:110-135` computes row
  * count, per-column null counts and min/max in separate pandas passes)
  * generalized to arbitrary tables: for each requested column, row count,
  * null count, distinct count, min/max (rendered as strings so one output
  * schema fits every column type) and total rendered length, all from a
  * SINGLE aggregation job.
  *
  * Scale: the exact-distinct form plans one Expand (×(k+1) rows for k
  * profiled columns) feeding a partial+final aggregate — the standard
  * multi-distinct plan; fine up to a handful of columns. For wide tables
  * at 100 TB use `approxDistinct = true`: HLL++ sketches aggregate
  * without Expand, one true pass, merge-safe on any partitioning (the
  * ±~2.3% default-precision error bound is contract-checked by q115).
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // resolve each requested name ONCE via backtick quoting (doubling
    // embedded backticks), and alias every aggregate positionally — no
    // user-controlled text ever reaches a parsed SQL fragment, so names
    // with quotes/commas/dots/spaces profile like any other (spec-pinned)
    def resolved(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val raw = resolved(c)
      val s = raw.cast("string")
      Seq(
        count(lit(1)).as(s"c${i}_n"),
        sum(when(raw.isNull, 1L).otherwise(0L)).as(s"c${i}_nulls"),
        (if (approxDistinct) approx_count_distinct(raw)
         else count_distinct(raw)).as(s"c${i}_ndv"),
        min(s).as(s"c${i}_min"),
        max(s).as(s"c${i}_max"),
        coalesce(sum(length(s).cast("long")), lit(0L)).as(s"c${i}_len"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single stats row to one output row per column — an
    // explode over per-column structs (the expression-level equivalent
    // of stack(), with the names carried as literals, not SQL text)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("col_name"),
        col(s"c${i}_n").as("n_rows"),
        col(s"c${i}_nulls").as("n_nulls"),
        col(s"c${i}_ndv").as("n_distinct"),
        col(s"c${i}_min").as("min_value"),
        col(s"c${i}_max").as("max_value"),
        col(s"c${i}_len").as("sum_len"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic of `valueCol`, each group
    * vs the REST of the corpus: D = max over pooled distinct values of
    * |F_group(x) − F_rest(x)| — the distribution-drift detector that
    * needs no binning choice (the q167 PSI companion; PSI fixes decile
    * bins, KS takes the sup over every step of the empirical CDFs).
    *
    * Exactness: the sup is taken over the CROSS-MULTIPLIED integer form
    * |cs·n_rest − c_rest·n_g| (cs = group's ≤-count at x), so the argmax
    * is pure BIGINT arithmetic; only the final D quotient is a single
    * divide, rounded 4dp. `at_value` is the smallest x attaining the
    * sup ((num DESC, x ASC) total order). Exact while n_g·n_rest < 2⁶³ —
    * past ~3·10⁹ rows per side, flip the comparison to the double
    * quotient (1 ulp) — the analogue of q161's integer-rank note.
    *
    * Shape: per-(group,value) and per-value counts partial-aggregate
    * first; the dense frame is distinct-values × groups (aggregate-
    * bounded, groups broadcast), with per-group cumulative windows on
    * that frame — corpus rows never enter a window or a cross join.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val b = df.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val cnt = b.groupBy(col("g"), col("v")).agg(count(lit(1)).as("__c"))
    val wGlobal = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val perVal = b.groupBy(col("v")).agg(count(lit(1)).as("__cg"))
      .withColumn("__cgc", sum(col("__cg")).over(wGlobal))
      .select(col("v"), col("__cgc"))
    val perGrp = b.groupBy(col("g")).agg(count(lit(1)).as("__ng"))
    val tot = b.agg(count(lit(1)).as("__nt"))
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val dense = perVal.crossJoin(broadcast(perGrp))
      .join(cnt, Seq("g", "v"), "left")
      .withColumn("__cs", sum(coalesce(col("__c"), lit(0L))).over(wGrp))
      .crossJoin(broadcast(tot))
      .withColumn("__nr", col("__nt") - col("__ng"))
      .withColumn("__num", abs(col("__cs") * col("__nr") -
        (col("__cgc") - col("__cs")) * col("__ng")))
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("__num").desc, col("v"))
    dense.withColumn("__rk", row_number().over(wMax))
      .filter(col("__rk") === 1)
      .select(col("g").as(groupCol), col("__ng").as("n_group"),
        col("__nr").as("n_rest"),
        round(col("__num").cast("double") /
          (col("__ng") * col("__nr")).cast("double"), 4).as("d_stat"),
        col("v").as("at_value"))
  }

  /** Mutual information between two categorical columns — the
    * information-theoretic strength of the lhs→rhs association, the
    * continuous companion to [[fdAudit]]'s exact-dependency audit and
    * q172's chi-square (MI measures HOW MUCH label knowledge the lhs
    * carries; chi-square only tests independence). One row out:
    * marginal entropies, joint entropy, MI = H(L)+H(R)−H(L,R), and
    * NMI = MI/min(H(L),H(R)) (NULL when either marginal is constant).
    *
    * Null keys are excluded. Each entropy is H = ln n − (Σ c·ln c)/n:
    * every term c·ln c is one fixed double op on an exact integer
    * count (bit-identical cross-engine), snapped to DECIMAL(38,18)
    * (sub-5e-19 per-term error) so the Σ is an EXACT decimal sum —
    * order-free, partial+final aggregation over the marginal/joint
    * count frames, O(1) buffer state at ANY key cardinality (round-10
    * migration of the key-sorted collect_list fold). Outputs are 4dp
    * for the ln ulp (NOTES.md), with MI's
    * mathematically-≥0-but-FP-tiny-negative canonicalized via + 0.0
    * (the q126 −0.0 pitfall).
    */
  def mutualInformation(df: DataFrame, lhsCol: String,
      rhsCol: String): DataFrame = {
    val pairs = df
      .select(col(lhsCol).as("l"), col(rhsCol).as("r"))
      .filter(col("l").isNotNull && col("r").isNotNull)
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
    def fold(d: DataFrame, sName: String): DataFrame =
      d.agg(sum(col("c")).as("__n" + sName),
        sum((col("c").cast("double") * log(col("c")))
          .cast("decimal(38,18)")).cast("decimal(38,18)").cast("double")
          .as("__s" + sName))
    val fl = fold(pairs.groupBy(col("l")).agg(sum(col("c")).as("c")), "l")
    val fr = fold(pairs.groupBy(col("r")).agg(sum(col("c")).as("c")), "r")
    val fj = fold(pairs, "j")
    def h(s: String): Column =
      log(col("__n" + s)) - col("__s" + s) / col("__n" + s)
    fl.crossJoin(fr).crossJoin(fj)
      .select(col("__nj").as("n_rows"),
        round(h("l"), 4).as("h_lhs"), round(h("r"), 4).as("h_rhs"),
        round(h("j"), 4).as("h_joint"),
        (round(h("l") + h("r") - h("j"), 4) + lit(0.0)).as("mi"),
        when(least(h("l"), h("r")) > 0.0,
          round((h("l") + h("r") - h("j")) / least(h("l"), h("r")), 4) +
            lit(0.0)).as("nmi"))
  }

  /** Functional-dependency / label-consistency audit for lhs → rhs: per
    * LHS value, row count, distinct RHS count, the MAJORITY rhs
    * (count DESC, rhs ASC — a total order) and how many rows disagree
    * with it (the violation count, with its exact-quotient rate). On
    * (source → lang) this is the label-purity report an annotation
    * pipeline reviews; n_rhs = 1 everywhere certifies the dependency
    * holds.
    *
    * Two partial-aggregating groupBys — (lhs, rhs) counts, then per-lhs
    * fold over the collapsed frame (bounded by distinct pairs, never
    * rows) — plus one window for the majority pick on that same
    * collapsed frame. All outputs exact.
    */
  def fdAudit(df: DataFrame, lhsCol: String, rhsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lhs")).orderBy(col("__c").desc, col("rhs"))
    val pairs = df
      .select(col(lhsCol).as("lhs"), col(rhsCol).as("rhs"))
      .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("__c"))
    pairs
      .withColumn("__rk", row_number().over(w))
      .groupBy(col("lhs"))
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_rhs"),
        max(when(col("__rk") === 1, col("rhs"))).as("majority_rhs"),
        max(when(col("__rk") === 1, col("__c"))).as("__mc"))
      .select(col("lhs").as(lhsCol), col("n_rows"), col("n_rhs"),
        col("majority_rhs"),
        (col("n_rows") - col("__mc")).as("n_violations"),
        round((col("n_rows") - col("__mc")).cast("double") /
          col("n_rows"), 4).as("violation_rate"))
  }

  /** Benford's-law first-digit audit over a positive INTEGER column:
    * observed first-significant-digit counts and frequencies vs the
    * Benford expectation log10(1 + 1/d), with each digit's chi-square
    * contribution — the fraud / synthetic-data smell test. Nine rows
    * out.
    *
    * The first digit comes from the integer's decimal STRING rendering
    * (identical across engines — no floating log10-of-value involved);
    * only the expected frequency and the chi-square contribution touch
    * FP (log10 of the nine constants + one quotient each), rounded 4dp
    * for the ulp. Counts are exact; the per-digit layout avoids any
    * cross-digit FP summation entirely.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val b = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    // ALL nine digits, observed or not: an absent digit contributes
    // n·exp_frac to χ² — dropping its row understates the statistic
    // exactly when the data is most non-Benford
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val full = digits.join(b, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val tot = full.agg(sum(col("n_obs")).as("__n"))
    val expFrac = log10(lit(1.0) + lit(1.0) / col("digit"))
    full.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("__n"), 4).as("obs_frac"),
        round(expFrac, 4).as("exp_frac"),
        round(((col("n_obs").cast("double") - expFrac * col("__n")) *
          (col("n_obs").cast("double") - expFrac * col("__n")))
          / (expFrac * col("__n")), 4).as("chi2_part"))
  }

  /** Per-group skewness and excess kurtosis of an INTEGER column:
    * skew = √n·m₃/m₂^1.5 (m₂^1.5 as m₂·√m₂ — no libm pow), excess
    * kurtosis = n·m₄/m₂² − 3, both 4dp. The distribution-shape
    * companion to [[ksTest]]'s location-drift view.
    *
    * Determinism WITHOUT a whole-group fold (round-10 migration of the
    * q211 ordered collect_list — that form held an entire group in one
    * aggregation buffer, an OOM by construction at 100 TB): two
    * passes. Pass 1: n and the exact BIGINT Σx per group, giving the
    * integer shift c = Σx div n. Pass 2: EXACT DECIMAL(38,0) power
    * sums S₁..S₄ of d = x − c — order-free, partial+final, merge-safe
    * (each partial buffer carries four decimals, never rows). The
    * shift keeps |d| near the group spread, so converting S₁..S₄ to
    * double and assembling the central moments
    * m₂ = S₂ − S₁²/n, m₃ = S₃ − 3S₁S₂/n + 2S₁³/n²,
    * m₄ = S₄ − 4S₁S₃/n + 6S₁²S₂/n² − 3S₁⁴/n³
    * is one fixed double op sequence with only O(1/spread)-relative
    * correction terms (no catastrophic cancellation — the dangerous
    * n·µ̄-scale cancellation already happened in exact integers). The
    * oracle replays the identical sequence on HUGEINT sums.
    *
    * Exactness contract: |d| ≤ 10⁷ per row (enforced — guard raises),
    * so Σd⁴ stays exact in DECIMAL(38,0) up to ~10¹⁰ rows per group.
    */
  def skewKurtosis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val b = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("x"))
      .filter(col("x").isNotNull)
    val shift = b.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("__sx"))
      .select(col("g"), col("n"), col("__sx"),
        expr("__sx div n").as("__c"))
    val withD = b.join(broadcast(shift), Seq("g"))
      .withColumn("__d",
        when(abs(col("x") - col("__c")) > 10000000L,
          raise_error(lit("skewKurtosis: |x - groupMeanShift| > 1e7 " +
            "breaks the DECIMAL(38,0) exactness contract")))
          .otherwise(col("x") - col("__c")))
      .withColumn("__d2", (col("__d") * col("__d")).cast("decimal(19,0)"))
    val sums = withD.groupBy(col("g"))
      .agg(first(col("n")).as("n"), first(col("__sx")).as("__sx"),
        sum(col("__d").cast("decimal(19,0)")).cast("decimal(38,0)")
          .as("__s1"),
        sum(col("__d2")).cast("decimal(38,0)").as("__s2"),
        sum(col("__d2") * col("__d").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("__s3"),
        sum(col("__d2") * col("__d2")).cast("decimal(38,0)").as("__s4"))
    val nD = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val m2 = d("__s2") - d("__s1") * d("__s1") / nD
    val m3 = d("__s3") - lit(3.0) * d("__s1") * d("__s2") / nD +
      lit(2.0) * d("__s1") * d("__s1") * d("__s1") / (nD * nD)
    val m4 = d("__s4") - lit(4.0) * d("__s1") * d("__s3") / nD +
      lit(6.0) * d("__s1") * d("__s1") * d("__s2") / (nD * nD) -
      lit(3.0) * d("__s1") * d("__s1") * d("__s1") * d("__s1") /
        (nD * nD * nD)
    sums
      .select(col("g"), col("n"),
        (col("__sx").cast("double") / nD).as("__mu"),
        m2.as("__m2"), m3.as("__m3"), m4.as("__m4"))
      .filter(col("n") >= 2 && col("__m2") > 0.0)
      .select(col("g").as(groupCol), col("n"), round(col("__mu"), 4).as("mean"),
        round(sqrt(col("n").cast("double")) * col("__m3") /
          (col("__m2") * sqrt(col("__m2"))), 4).as("skewness"),
        round(col("n").cast("double") * col("__m4") /
          (col("__m2") * col("__m2")) - lit(3.0), 4).as("excess_kurtosis"))
  }

  /** Robust outlier census per group via the median/MAD rule (Iglewicz-
    * Hoaglin modified z: 0.6745·(x−med)/MAD, cutoff 3.5) — the outlier
    * screen that, unlike mean/σ z-scores, is not dragged by the
    * outliers it is hunting.
    *
    * Zero-FP flag (the q252 discipline): values are pre-scaled to
    * integers by the caller (`scaledInt` — e.g. round(value·100) for
    * 2dp money), medians are kept DOUBLED (x_(⌈n/2⌉) + x_(⌊n/2⌋+1) in
    * rank order — an integer for both parities, no interpolation
    * divide), and the cutoff test 0.6745·ad/mad > 3.5 cross-multiplies
    * to 1349·Ai > 3500·madA2 in exact BIGINT — no engine's libm gets a
    * vote on which rows are outliers. The reported median/mad unscale
    * with one divide each, 4dp.
    *
    * Scale: two rank windows per group (rows-bounded per group — the
    * operator is for bounded-cardinality metric groups); everything
    * else is joins on the group key and integer column programs.
    */
  def madOutliers(df: DataFrame, groupCol: String, scaledInt: Column,
      scale: Int = 100, cutoff2x1000: Long = 3500L): DataFrame = {
    val base = df.select(col(groupCol).as("g"), scaledInt.cast("long").as("xi"))
      .filter(col("xi").isNotNull)
    def doubledMedian(d: DataFrame, vc: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col(vc))
      d.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .groupBy(col("g"))
        // `/` on longs is DOUBLE division in Spark — floor() recovers
        // the integer rank (exact: group sizes are far below 2^53)
        .agg((sum(when(col("__rn") === floor((col("__n") + 1) / 2), col(vc))) +
          sum(when(col("__rn") === floor((col("__n") + 2) / 2), col(vc))))
          .as(out))
    }
    val med = doubledMedian(base, "xi", "med2")
    val dev = base.join(med, Seq("g"))
      .withColumn("ai", abs(lit(2L) * col("xi") - col("med2")))
    val mad = doubledMedian(dev, "ai", "mad2")
    val flagged = dev.join(mad, Seq("g"))
      .withColumn("__out", col("mad2") > 0 &&
        lit(1349L) * col("ai") > lit(cutoff2x1000) * col("mad2"))
    flagged.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        round(min(col("med2")).cast("double") / (2.0 * scale), 4).as("median"),
        round(min(col("mad2")).cast("double") / (4.0 * scale), 4).as("mad"),
        sum(when(col("__out"), 1L).otherwise(0L)).as("n_outliers"),
        (min(col("mad2")) === 0).as("degenerate"))
  }

  /** Winsorized mean per group — the robust aggregate companion of
    * [[madOutliers]]: clamp every value to the group's exact
    * nearest-rank [pLo, pHi] percentiles, then average the clamped
    * values. The standard "tame the tails without dropping rows"
    * metric aggregate; no FP op ever decides a clamp (cent-scaled
    * integer inputs, integer nearest-rank r = ⌈p·n/100⌉ picks, exact
    * integer clamp and sum — the one divide is final). Tie order under
    * row_number is irrelevant: tied rows carry equal values, so the
    * rank-r pick is deterministic.
    *
    * Scale: one shuffle on the group key, one ordered window pass, one
    * partial-agg join-back — the q261 shape.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, scaledInt: Column,
      scale: Int = 100, pLoPct: Int = 5, pHiPct: Int = 95): DataFrame = {
    require(0 < pLoPct && pLoPct < pHiPct && pHiPct <= 100, "bad percentiles")
    val base = df.select(col(groupCol).as("g"), scaledInt.cast("long").as("xi"))
      .filter(col("xi").isNotNull)
    val w = Window.partitionBy(col("g")).orderBy(col("xi"))
    def rank(p: Int): Column = floor((col("__n") * p + 99) / 100)
    val q = base.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("g"))
      .agg(max(col("__n")).as("n"),
        sum(when(col("__rn") === rank(pLoPct), col("xi"))).as("__lo"),
        sum(when(col("__rn") === rank(pHiPct), col("xi"))).as("__hi"))
    base.join(q, Seq("g"))
      .withColumn("__ci", greatest(col("__lo"), least(col("__hi"), col("xi"))))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        round(max(col("__lo")).cast("double") / scale, 4).as("p_lo"),
        round(max(col("__hi")).cast("double") / scale, 4).as("p_hi"),
        sum(when(col("__ci") =!= col("xi"), 1L).otherwise(0L)).as("n_clamped"),
        round(sum(col("__ci")).cast("double") /
          (max(col("n")) * lit(scale.toLong)).cast("double"), 4)
          .as("winsorized_mean"))
  }

  /** Per-group Spearman rank correlation between two integer-valued
    * expressions — the monotone-association screen that, unlike
    * Pearson, ignores outlier magnitude. Average ranks for ties, so
    * ρ = Pearson over the rank vectors.
    *
    * Exactness (the q188 AUC recipe, generalized to two ranked
    * columns): ranks come from the AGGREGATED distinct-value frames —
    * a value with c holders after b predecessors has DOUBLED average
    * rank 2r = 2b + c + 1, an INTEGER — so every sum (Σ2rx·2ry,
    * Σ(2rx)², Σ2rx) is exact DECIMAL(38,0) integer arithmetic; the ×2
    * scaling cancels in ρ. One double op sequence at the end
    * (N/√(Dx·Dy), each factor converted exactly from DECIMAL), 4dp.
    * Groups need n ≥ 2 and non-constant x AND y.
    *
    * Scale: three shuffles on (group[, value]) aggregates; the ordered
    * windows run over per-group DISTINCT-value frames (value-
    * resolution-bounded, never row-bounded). No corpus-wide rank.
    */
  def spearman(df: DataFrame, groupCol: String, xExpr: Column,
      yExpr: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"), xExpr.cast("long").as("x"),
        yExpr.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    def ranks(vc: String): DataFrame = {
      val grp = base.groupBy(col("g"), col(vc)).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("g")).orderBy(col(vc))
      grp.withColumn("__cum", sum(col("c")).over(w))
        .select(col("g"), col(vc),
          (lit(2L) * (col("__cum") - col("c")) + col("c") + 1)
            .as(s"t$vc"),
          col("c").as(s"c$vc"))
    }
    val rx = ranks("x")
    val ry = ranks("y")
    val pairs = base.groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
    val joined = pairs
      .join(rx.select(col("g"), col("x"), col("tx")), Seq("g", "x"))
      .join(ry.select(col("g"), col("y"), col("ty")), Seq("g", "y"))
    val perG = joined.groupBy(col("g"))
      .agg(sum(col("c")).as("n"),
        // decimal BEFORE the multiply: c·tx·ty in BIGINT wraps past
        // 2^63 for multi-million-row tied groups (the friedman pattern)
        sum(col("c").cast("decimal(38,0)") * col("tx") * col("ty"))
          .cast("decimal(38,0)").as("a"))
    def sideStats(r: DataFrame, vc: String): DataFrame =
      r.groupBy(col("g")).agg(
        sum(col(s"c$vc").cast("decimal(38,0)") * col(s"t$vc"))
          .cast("decimal(38,0)").as(s"b$vc"),
        sum(col(s"c$vc").cast("decimal(38,0)") * col(s"t$vc")
          * col(s"t$vc")).cast("decimal(38,0)").as(s"q$vc"))
    val nD = col("n").cast("decimal(38,0)")
    val num = (nD * col("a") - col("bx") * col("by")).cast("double")
    val dx = (nD * col("qx") - col("bx") * col("bx")).cast("double")
    val dy = (nD * col("qy") - col("by") * col("by")).cast("double")
    perG
      .join(sideStats(rx, "x"), Seq("g"))
      .join(sideStats(ry, "y"), Seq("g"))
      .withColumn("__dx", dx).withColumn("__dy", dy)
      .filter(col("n") >= 2 && col("__dx") > 0.0 && col("__dy") > 0.0)
      .select(col("g").as(groupCol), col("n"),
        round(num / sqrt(col("__dx") * col("__dy")), 4).as("spearman_rho"))
  }
  /** Kruskal-Wallis H (Kruskal & Wallis 1952) — the rank-based k-group
    * location test, the nonparametric ANOVA a profiling pass runs when
    * per-group value distributions are skewed/heavy-tailed (is doc
    * length REALLY different across languages, or is the mean moved by
    * a handful of giants?). Complements [[ksTest]] (two-sample shapes)
    * with one k-group statistic.
    *
    *   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),
    * tie-corrected H_c = H / (1 − Σ(t³−t)/(N³−N)).
    *
    * Ranks are MIDRANKS from the distinct-value frame (cumulative count
    * before + (t+1)/2) — multiples of 0.5, so per-group rank sums are
    * EXACT DECIMAL(18,1) aggregations, no order sensitivity anywhere;
    * the Σ R²/n terms round 6dp into a DECIMAL fold, H is one
    * fixed-order double expression. H_c is NULL when every value ties
    * (correction hits 0). One summary row: n, n_groups, h, h_corrected.
    *
    * Scale: the only window runs over DISTINCT VALUES (bounded by value
    * cardinality, the [[ksTest]] contract), never corpus rows; corpus
    * rows see one join against that frame plus one partial-agg.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val b = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val dv = b.groupBy(col("v")).agg(count(lit(1)).as("__t"))
    val wBefore = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val mid = dv
      .withColumn("__cb", coalesce(sum(col("__t")).over(wBefore), lit(0L)))
      .select(col("v"),
        (col("__cb").cast("double") +
          (col("__t") + 1).cast("double") / 2.0).as("__mr"))
    val grp = b.join(mid, Seq("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__ng"),
        sum(col("__mr").cast("decimal(18,1)")).cast("decimal(18,1)")
          .as("__rs"))
    val tot = grp.agg(sum(col("__ng")).as("__n"),
      count(lit(1)).as("n_groups"))
    val terms = grp
      .select(round(col("__rs").cast("double") * col("__rs").cast("double") /
        col("__ng").cast("double"), 6).cast("decimal(18,6)").as("__term"))
      .agg(sum(col("__term")).cast("decimal(38,6)").as("__r2"))
    val ties = dv.agg(
      // t³ in decimal: a value duplicated >2.1M times overflows the
      // BIGINT cube and silently corrupts the tie correction
      sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")).as("__ts"))
    val nd = col("__n").cast("double")
    val h = lit(12.0) / (nd * (nd + lit(1.0))) *
      col("__r2").cast("double") - lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) - col("__ts").cast("double") / (nd * nd * nd - nd)
    tot.crossJoin(terms).crossJoin(broadcast(ties))
      .select(col("__n").as("n"), col("n_groups"),
        round(h, 4).as("h"),
        when(corr > 0, round(h / corr, 4)).as("h_corrected"))
  }

  /** EXACT top-k over an unbounded key space WITHOUT aggregating it —
    * the sketch+rescan idiom: pass 1 runs a constant-state SpaceSaving
    * sketch (`capacity` counters, any partitioning) whose guarantee is
    * that EVERY key with true count > n/capacity is tracked; pass 2
    * computes exact counts for the ≤ capacity candidates only
    * (broadcast semi-join — the full key space is never grouped) and
    * emits the top k by (count DESC, key ASC) with the completeness
    * certificate `provably_complete` = (kth count · capacity > n),
    * i.e. "no untracked key can outrank what we returned".
    *
    * Determinism contract: the sketch's tracked SET is merge-order-
    * sensitive (q131 note), but the OUTPUT is deterministic whenever
    * the certificate holds — every returned key is then
    * guarantee-tracked under ANY merge order and its exact count is a
    * plain integer. At 100 TB this replaces a trillion-group
    * aggregation with one constant-state pass + one tiny rescan agg.
    */
  def exactTopKRescan(df: DataFrame, keyCol: String, k: Int,
      capacity: Int): DataFrame = {
    require(k >= 1 && capacity > k, "need capacity > k >= 1")
    val spark = df.sparkSession
    val keyed = df.select(col(keyCol).as("__k")).filter(col("__k").isNotNull)
    // pass 1: ONE scan computes the SpaceSaving candidate set AND the
    // exact total n in the same aggregation — a single driver row of
    // ≤ capacity items (the documented bounded hop; re-scanning the
    // input a third time just for count(*) broke the "one constant-
    // state pass + one tiny rescan" contract)
    val sketchRow = keyed
      .agg(graft.functions.SpaceSavingSketch
        .spaceSavingTopK(col("__k"), capacity).as("__hh"),
        count(lit(1)).as("__n"))
      .head()
    val n = sketchRow.getLong(1)
    val keyType = keyed.schema.head.dataType
    val candRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(
        sketchRow.getSeq[org.apache.spark.sql.Row](0)
          .map(x => org.apache.spark.sql.Row(x.get(0))): _*)
    val cand = spark.createDataFrame(candRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cand", keyType))))
    // pass 2: exact counts for the ≤ capacity candidates only
    val exact = keyed
      .join(broadcast(cand), col("__k") === col("__cand"), "left_semi")
      .groupBy(col("__k")).agg(count(lit(1)).as("exact_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("exact_count").desc, col("__k"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("rank"), col("__k").as("item"), col("exact_count"),
        (col("exact_count") * capacity > lit(n))
          .as("provably_complete"))
  }

  /** Wilcoxon signed-rank test (paired, normal approximation with the
    * standard tie correction) — the nonparametric paired-comparison
    * companion of [[kruskalWallis]]: given one (x, y) pair per unit
    * (metric A vs metric B per user, model A vs model B per eval item),
    * tests whether the differences are symmetric around zero without
    * any distribution assumption. Zero differences drop (the reduced-
    * sample convention); W⁺ = Σ midrank(|d|) over positive d.
    *
    * Exactness: INTEGER pairs make every |d| integer, so midranks are
    * .0/.5 values — per-|d| contributions (pos·midrank) land exactly in
    * DECIMAL(18,1) products and the W⁺ sum is exact and order-free.
    * E[W⁺] = n(n+1)/4 is dyadic (exact double); the variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48 and z are a fixed sequence of
    * correctly-rounded double ops on exact integers — bit-identical
    * cross-engine, no rounding anywhere.
    *
    * Scale: one partial+final agg to the collapsed |d| frame (bounded
    * by distinct |d| values, never rows — the [[kruskalWallis]] dv
    * stance), one small-frame window for cumulative counts, one fold.
    */
  def wilcoxonSignedRank(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val d0 = df
      .select((col(yCol).cast("long") - col(xCol).cast("long")).as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0L)
      .select(col("__d"), abs(col("__d")).as("__ad"))
    val dv = d0.groupBy(col("__ad"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__pos"))
    val wBefore = org.apache.spark.sql.expressions.Window.orderBy(col("__ad"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val mr = dv
      .withColumn("__cb", coalesce(sum(col("__t")).over(wBefore), lit(0L)))
      .withColumn("__mr", col("__cb").cast("double") +
        (col("__t") + 1).cast("double") / 2.0)
    val agg = mr.agg(
      sum(col("__t")).as("n_pairs"),
      sum(col("__pos").cast("decimal(18,1)") *
        col("__mr").cast("decimal(18,1)")).cast("decimal(38,2)").as("__wp"),
      // t³ in decimal: a value duplicated >2.1M times overflows the
      // BIGINT cube and silently corrupts the tie correction
      sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")).as("__ts"))
    val nd = col("n_pairs").cast("double")
    val ew = nd * (nd + lit(1.0)) / lit(4.0)
    val varw = nd * (nd + lit(1.0)) * (lit(2.0) * nd + lit(1.0)) /
      lit(24.0) - col("__ts").cast("double") / lit(48.0)
    agg.select(col("n_pairs"),
      col("__wp").cast("double").as("w_plus"),
      when(varw > 0.0,
        (col("__wp").cast("double") - ew) / sqrt(varw)).as("z"))
  }

  /** Friedman test (tie-corrected, Conover's A/B form) — the k-sample
    * sibling of [[wilcoxonSignedRank]]: n items each measured under k
    * paired treatments (per-user counts of k event types, per-item
    * scores from k models); tests whether any treatment systematically
    * ranks higher WITHIN items. Ranks are midranks within each item
    * (k-bounded comparison arithmetic, .5 steps → exact DECIMAL);
    * χ²_F = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (A − n·k(k+1)²/4) with
    * A = Σᵢⱼ Rᵢⱼ² — the A-form absorbs ties without a separate
    * correction term (untied it reduces to the classic
    * 12ΣRⱼ²/(nk(k+1)) − 3n(k+1)). All rank sums are exact order-free
    * decimals; the finale is a fixed j-ordered double fold (dyadic
    * midrank values → every intermediate exact below 2⁵³, documented).
    * Denominator 0 (every item fully tied) nulls the statistic.
    *
    * Scale: one narrow projection (ranks are per-row expressions — no
    * within-item shuffle, unlike a groupBy-ranks formulation) + one
    * partial+final agg. χ²_{k−1} under H₀.
    */
  def friedman(df: DataFrame, valueCols: Seq[Column]): DataFrame = {
    require(valueCols.size >= 2, "need k >= 2 paired treatments")
    val k = valueCols.size
    val names = valueCols.indices.map(i => s"__v$i")
    val rows = df
      .filter(valueCols.map(_.isNotNull).reduce(_ && _))
      .select(valueCols.zipWithIndex.map { case (v, i) =>
        v.cast("long").as(s"__v$i") }: _*)
    def rank(j: Int): Column = {
      val less = names.map(l =>
        when(col(l) < col(s"__v$j"), 1).otherwise(0)).reduce(_ + _)
      val eq = names.map(l =>
        when(col(l) === col(s"__v$j"), 1).otherwise(0)).reduce(_ + _)
      (lit(1.0) + less.cast("double") +
        (eq - 1).cast("double") / 2.0).cast("decimal(18,1)")
    }
    val ranked = rows.select(valueCols.indices.map(j =>
      rank(j).as(s"__r$j")): _*)
    val aggCols = Seq(count(lit(1)).as("n_items")) ++
      valueCols.indices.map(j =>
        sum(col(s"__r$j")).cast("decimal(38,1)").as(s"__R$j")) ++
      valueCols.indices.map(j =>
        sum((col(s"__r$j") * col(s"__r$j")).cast("decimal(38,2)"))
          .cast("decimal(38,2)").as(s"__A$j"))
    val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
    val nd = col("n_items").cast("double")
    val mean = nd * lit((k + 1).toDouble) / lit(2.0)
    val num = valueCols.indices.map { j =>
      val d = col(s"__R$j").cast("double") - mean
      d * d
    }.reduce(_ + _)
    val den = valueCols.indices.map(j => col(s"__A$j").cast("double"))
      .reduce(_ + _) -
      nd * lit(k.toDouble) * lit(((k + 1) * (k + 1)).toDouble) / lit(4.0)
    agg.select(col("n_items"), lit(k).as("k_treatments"),
      when(den > 0.0, lit((k - 1).toDouble) * num / den).as("chi2_f"),
      lit(k - 1).as("df"))
  }

  /** Balanced half-sample standard error (McCarthy 1969's replication
    * idea with deterministic hash-bit replicates) — the sampling-error
    * bar a profiling pass attaches to per-group means WITHOUT
    * distributional assumptions or RNG state: replicate b keeps the
    * rows whose xxhash64(id) has bit b clear (a reproducible ~half-
    * sample), and SE = √(mean of (mean_b − mean)² over B replicates).
    * Hash bits stand in for the classical Hadamard balance plan — the
    * audit-grade tradeoff, documented here, that keeps every replicate
    * a pure function of the row id.
    *
    * Values are 6dp-canonicalized DECIMALs (exact sums, order-free);
    * replicate means and the full mean are single divides; per-replicate
    * squared deviations round 6dp into a DECIMAL fold over the ≤B-row
    * frame, and the SE divides by the REALIZED replicate count (tiny
    * groups can produce empty half-samples; B would bias the SE low). Bit b of the SIGNED 64-bit hash equals bit b of its unsigned
    * form for b < 63, which is what the oracle replays in HUGEINT.
    *
    * Scale: one hash pass, one B-way explode of narrow (group, value,
    * hash) rows, two partial-aggs. B is a constant; no window.
    */
  def halfSampleSe(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, replicates: Int = 16): DataFrame = {
    require(replicates >= 2 && replicates <= 62, "replicates in [2, 62]")
    val base = df.select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"),
        xxhash64(col(idCol)).as("__hs"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    // NO materialization: both consumers re-derive this narrow
    // projection from the scan (hash + round are deterministic, so the
    // two passes agree bit-for-bit); an eager checkpoint here would
    // force the whole corpus-sized frame into block storage up front —
    // strictly worse than a second scan at the profiling scale this
    // targets, and unrecoverable on executor loss
    val full = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v")).cast("decimal(38,6)").as("__s"))
      .withColumn("__mean", col("__s").cast("double") / col("n").cast("double"))
    val reps = base
      .withColumn("__b", explode(sequence(lit(0), lit(replicates - 1))))
      .filter(expr("(shiftright(__hs, __b) & 1) = 0"))
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__nb"),
        sum(col("__v")).cast("decimal(38,6)").as("__sb"))
    val dev = col("__sb").cast("double") / col("__nb").cast("double") -
      col("__mean")
    reps.join(broadcast(full.select(col("__g"), col("n"), col("__mean"))),
        Seq("__g"))
      .select(col("__g"), col("n"), col("__mean"),
        round(dev * dev, 6).cast("decimal(18,6)").as("__t"))
      .groupBy(col("__g"), col("n"), col("__mean"))
      .agg(count(lit(1)).as("n_replicates"),
        sum(col("__t")).cast("decimal(38,6)").as("__ts"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__mean"), 4).as("mean"), col("n_replicates"),
        // divide by the REALIZED replicate count: a small group can
        // have empty half-samples (no row with bit b clear) whose
        // terms never reach the sum — dividing by the constant B
        // would silently understate the SE for exactly those groups
        round(sqrt(col("__ts").cast("double") /
          col("n_replicates").cast("double")), 4).as("se_half_sample"))
  }

  /** Mergeable per-key aggregate state — (n, Σ, min, max) as an exact,
    * order-free frame — and its commutative merge: the incremental-
    * maintenance contract that lets a 100 TB pipeline fold a day's
    * delta into yesterday's rollup instead of rescanning the world.
    * Values are 6dp-canonicalized DECIMALs so Σ is exact (merge order
    * can never show) and the merged state is BIT-equal to a full
    * recompute — which is exactly what an oracle can check.
    */
  def aggState(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.select(col(keyCol).as("__k"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"))
      .filter(col("__k").isNotNull && col("__v").isNotNull)
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v")).cast("decimal(38,6)").as("__sum"),
        min(col("__v")).as("__min"), max(col("__v")).as("__max"))

  /** Fold a delta [[aggState]] into a base state, returning STATE
    * format (__k / n / __sum / __min / __max, exact decimals) — CLOSED
    * under composition: day N's folded state folds into day N+1's
    * delta without ever leaving the exact-decimal domain, which is
    * what the incremental-maintenance contract needs. (The former
    * merge-and-render in one step was NOT re-mergeable: renamed
    * columns, Σ cast to double.)
    */
  def foldAggState(state: DataFrame, delta: DataFrame): DataFrame = {
    val a = state.select(col("__k"), col("n").as("__n1"),
      col("__sum").as("__s1"), col("__min").as("__m1"),
      col("__max").as("__x1"))
    val b = delta.select(col("__k"), col("n").as("__n2"),
      col("__sum").as("__s2"), col("__min").as("__m2"),
      col("__max").as("__x2"))
    a.join(b, Seq("__k"), "full_outer")
      .select(col("__k"),
        (coalesce(col("__n1"), lit(0L)) + coalesce(col("__n2"), lit(0L)))
          .as("n"),
        (coalesce(col("__s1"), lit(0).cast("decimal(38,6)")) +
          coalesce(col("__s2"), lit(0).cast("decimal(38,6)")))
          .cast("decimal(38,6)").as("__sum"),
        least(coalesce(col("__m1"), col("__m2")),
          coalesce(col("__m2"), col("__m1"))).as("__min"),
        greatest(coalesce(col("__x1"), col("__x2")),
          coalesce(col("__x2"), col("__x1"))).as("__max"))
  }

  /** [[foldAggState]] plus the DISPLAY rendering (caller's key name,
    * doubles). The rendered frame is terminal — compose further merges
    * through foldAggState, not this.
    */
  def mergeAggState(state: DataFrame, delta: DataFrame,
      keyCol: String): DataFrame =
    foldAggState(state, delta)
      .select(col("__k").as(keyCol), col("n"),
        col("__sum").cast("double").as("sum_val"),
        col("__min").cast("double").as("min_val"),
        col("__max").cast("double").as("max_val"))

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between each
    * group's value distribution and a reference group — the
    * distribution-shift number that INTEGRATES the CDF gap where
    * [[ksTest]] takes its sup and PSI coarsens into bins: W₁ = ∫|F_g −
    * F_ref| dx over the merged support, in the VALUE's own units
    * (chars, tokens, ms), which is what makes it readable as "how far
    * did the distribution move".
    *
    * EXACT integer arithmetic end to end: with integer-valued columns,
    * each support segment contributes |c_g·n_ref − c_ref·n_g|·(v_next −
    * v) as a BIGINT, summed per group and divided ONCE by n_g·n_ref
    * (the only double op, then 4dp). Callers with fractional values
    * pre-scale to integers (the q303 scaled-int convention).
    *
    * Scale: histograms are per-(group, value) partial-aggs; the cumsum
    * windows partition per GROUP over the merged distinct-value frame
    * (bounded by value cardinality — the ksTest contract); the
    * reference histogram broadcasts.
    */
  def emd1d(df: DataFrame, groupCol: String, valueCol: String,
      refGroup: String): DataFrame = {
    val b = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val ref = b.filter(col("__g") === refGroup)
      .groupBy(col("__v")).agg(count(lit(1)).as("__cr"))
    val oth = b.filter(col("__g") =!= refGroup)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__cg"))
    val refAll = oth.select(col("__g")).distinct().crossJoin(broadcast(ref))
    val joined = refAll.join(oth, Seq("__g", "__v"), "full_outer")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
    val cumW = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = joined
      .withColumn("__ca", sum(coalesce(col("__cg"), lit(0L))).over(cumW))
      .withColumn("__cb", sum(coalesce(col("__cr"), lit(0L))).over(cumW))
      .withColumn("__gap",
        coalesce(lead(col("__v"), 1).over(w) - col("__v"), lit(0L)))
    val na = oth.groupBy(col("__g")).agg(sum(col("__cg")).as("__na"))
    val nb = ref.agg(sum(col("__cr")).as("__nb"))
    cum.join(broadcast(na), Seq("__g")).crossJoin(broadcast(nb))
      .groupBy(col("__g"), col("__na"), col("__nb"))
      // decimal: |ca·nb − cb·na|·gap in BIGINT wraps once
      // na·nb·range approaches 2^63 (ksTest documents its bound; this
      // term's gap multiplier makes the BIGINT bound far tighter)
      .agg(sum(abs(col("__ca").cast("decimal(38,0)") * col("__nb")
        - col("__cb").cast("decimal(38,0)") * col("__na")) *
        col("__gap")).as("__w"))
      .select(col("__g").as(groupCol), col("__na").as("n"),
        col("__nb").as("n_ref"),
        round(col("__w").cast("double") /
          (col("__na") * col("__nb")).cast("double"), 4).as("w1"))
  }

}
