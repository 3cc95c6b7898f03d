package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation operators over scored corpora — the offline
  * model-quality reports a curation pipeline runs after scoring (the
  * reference's quality_audit.py is a rule audit; these are the
  * model-side analogue, exercised on the same engine surface as the
  * q136/q181/q188 scoring family).
  */
object Eval {

  /** McNemar's test for two paired binary gates (McNemar 1947, public
    * textbook form): given per-item booleans a and b (filter A keeps /
    * filter B keeps; model A correct / model B correct), tests whether
    * the DISAGREEMENTS are asymmetric — the question "is gate B
    * systematically stricter than gate A?" that a 2×2 census alone
    * doesn't answer. χ² = (n₁₀ − n₀₁)²/(n₁₀ + n₀₁); the
    * continuity-corrected form uses (max(|n₁₀ − n₀₁| − 1, 0))². Both
    * are single correctly-rounded divides on exact integer counts —
    * bit-identical cross-engine. One partial+final agg, one row out.
    */
  def mcnemar(df: DataFrame, aGate: Column, bGate: Column): DataFrame = {
    val a = aGate.cast("boolean")
    val b = bGate.cast("boolean")
    val agg = df
      .filter(a.isNotNull && b.isNotNull)
      .agg(sum(when(a && b, 1L).otherwise(0L)).as("n11"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
        sum(when(!a && !b, 1L).otherwise(0L)).as("n00"))
    val disc = col("n10") + col("n01")
    val diff = col("n10") - col("n01")
    agg.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(disc > 0L, (diff * diff).cast("double") / disc.cast("double"))
        .as("chi2"),
      when(disc > 0L,
        (greatest(abs(diff) - 1L, lit(0L)) * greatest(abs(diff) - 1L, lit(0L)))
          .cast("double") / disc.cast("double")).as("chi2_corrected"))
  }

  /** Cochran's Q (Cochran 1950, public textbook form) — [[mcnemar]]
    * generalized to k ≥ 2 paired binary gates per item: do the gates
    * have the same keep rate, or is at least one systematically
    * different? Q = (k−1)·(k·ΣCⱼ² − N²) / (k·N − ΣRᵢ²) with Cⱼ the
    * per-gate totals, Rᵢ the per-item totals, N = ΣRᵢ — an ALL-INTEGER
    * numerator and denominator (one correctly-rounded divide at the
    * end, bit-identical cross-engine). χ²_{k−1} under H₀.
    *
    * Scale: one narrow projection (Rᵢ, Rᵢ², each gate) + one
    * partial+final agg; the k gate columns are a bounded literal list.
    * Null gate values on a row exclude the row (listwise, the paired
    * contract). Denominator 0 (all-constant rows) nulls Q.
    */
  def cochranQ(df: DataFrame, gates: Seq[Column]): DataFrame = {
    require(gates.size >= 2, "need k >= 2 gates")
    val k = gates.size
    val gs = gates.map(_.cast("boolean"))
    val ri = gs.map(g => when(g, 1L).otherwise(0L)).reduce(_ + _)
    val rows = df.filter(gs.map(_.isNotNull).reduce(_ && _))
      .select((ri :: gs.zipWithIndex.map { case (g, i) =>
        when(g, 1L).otherwise(0L).as(s"__g$i") }.toList): _*)
      .toDF(("__r" +: gs.indices.map(i => s"__g$i")): _*)
    val aggCols = Seq(count(lit(1)).as("n_items"),
      sum(col("__r")).as("__nn"),
      sum(col("__r") * col("__r")).as("__r2")) ++
      gs.indices.map(i => sum(col(s"__g$i")).as(s"__c$i"))
    val agg = rows.agg(aggCols.head, aggCols.tail: _*)
    val sumC2 = gs.indices.map(i => col(s"__c$i") * col(s"__c$i"))
      .reduce(_ + _)
    val num = lit(k - 1L) * (lit(k.toLong) * sumC2 - col("__nn") * col("__nn"))
    val den = lit(k.toLong) * col("__nn") - col("__r2")
    agg.select(col("n_items"), lit(k).as("k_gates"),
      when(den > 0L, num.cast("double") / den.cast("double")).as("q_stat"),
      lit(k - 1).as("df"))
  }

  /** Precision-recall threshold sweep: one row per DISTINCT score,
    * treating "predict positive" as score ≥ threshold — the full PR
    * curve (and F1 sweep) in a single pass, companion to q188's AUC
    * (which integrates this curve's ranking; this exposes the operating
    * points).
    *
    * `labelCol` must be a 0/1 numeric. Counts aggregate per distinct
    * score first, so the descending cumulative window runs on the
    * AGGREGATED frame (bounded by distinct scores, never corpus rows);
    * tp/fp/fn are exact BIGINTs, precision/recall/F1 are single
    * BIGINT-quotient divides rounded 4dp. F1 folds to 2·tp/(pp+p)
    * (pp = predicted positive, p = total positive) — one divide, no
    * chained FP. Requires at least one positive and one scored row;
    * with p = 0 recall/F1 are NULL (division by zero), by design.
    */
  def prCurve(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val g = scored
      .groupBy(col(scoreCol).as("threshold"))
      .agg(count(lit(1)).as("__n"), sum(col(labelCol)).as("__pos"))
    val wDesc = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = g.agg(sum(col("__pos")).as("__p"))
    g.withColumn("tp", sum(col("__pos")).over(wDesc))
      .withColumn("__pp", sum(col("__n")).over(wDesc))
      .crossJoin(broadcast(totals))
      .select(col("threshold"), col("tp"),
        (col("__pp") - col("tp")).as("fp"),
        (col("__p") - col("tp")).as("fn"),
        round(col("tp").cast("double") / col("__pp"), 4).as("prec"),
        round(col("tp").cast("double") / col("__p"), 4).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("__pp") + col("__p")), 4).as("f1"))
  }

  /** Bradley-Terry strength fit over pairwise comparisons (model A vs
    * model B, A wins / loses) via Hunter 2004's MM iteration
    * s_i ← W_i / Σ_{j≠i} n_ij / (s_i + s_j) — the standard
    * preference-eval aggregate behind LLM arena leaderboards, fit here
    * as a declarative fixed-iteration plan.
    *
    * Scale shape: the million-row match log reduces to the k×k
    * pair-count matrix in ONE partial-agg pass (k = #models, small by
    * nature); every iteration then runs on that bounded frame, eagerly
    * checkpointed per round — the s-frame is referenced TWICE per
    * iteration (s_i and s_j sides), so without truncation the plan DAG
    * doubles per round (2^iterations analysis blowup, the pageRank
    * lesson).
    *
    * Determinism: exact integer W/n; each denominator folds its
    * opponent terms in j-sorted order (one fixed IEEE sequence, k
    * terms); s⁰ = 1 and every update is the same op tree both engines
    * — raw doubles stay bit-equal, rounded 6dp at the edge. Scale is
    * pinned by s⁰ (no renormalization); callers compare ratios.
    * Degenerate inputs where two zero-win models only play each other
    * yield NULL/NaN scores for those models, by design.
    */
  def bradleyTerry(matches: DataFrame, aCol: String, bCol: String,
      aWinsCol: String, iterations: Int = 8): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val dir = matches
      .select(col(aCol).as("i"), col(bCol).as("j"),
        when(col(aWinsCol).cast("boolean"), 1L).otherwise(0L).as("wi"))
      .filter(col("i") =!= col("j"))
    val sym = dir.unionAll(dir.select(col("j").as("i"), col("i").as("j"),
      (lit(1L) - col("wi")).as("wi")))
    // k² rows, read every iteration: staged for the call
    Stage.using(sym.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n"), sum(col("wi")).as("w"))) { pair =>
      Stage.using(pair.groupBy(col("i")).agg(sum(col("w")).as("wtot"))) { wins =>
        val init = wins.select(col("i"), lit(1.0).as("s"))
        val (last, _) = Stage.iterate(init, iterations)({ s =>
          val denom = pair
            .join(s.select(col("i"), col("s").as("si")), Seq("i"))
            .join(s.select(col("i").as("j"), col("s").as("sj")), Seq("j"))
            .groupBy(col("i"))
            .agg(aggregate(
              transform(array_sort(collect_list(struct(col("j"),
                (col("n").cast("double") / (col("si") + col("sj"))).as("t")))),
                x => x.getField("t")),
              lit(0.0), (acc, x) => acc + x).as("d"))
          Some(wins.join(denom, Seq("i"))
            .select(col("i"), (col("wtot").cast("double") / col("d")).as("s")))
        })
        last.select(col("i").as("model"), round(col("s"), 6).as("bt_score"))
      }
    }
  }

  /** Cohen's kappa (Cohen 1960) between two binary raters over the same
    * rows — the chance-corrected agreement number a curation pipeline
    * runs before trusting a cheap heuristic as a proxy for an expensive
    * rule (or one annotator for another). One partial-agg pass builds
    * the exact 2×2 contingency counts; p_o, p_e and kappa are three
    * fixed-order double expressions on those BIGINTs (n² as a double
    * PRODUCT — the q307 overflow stance). Rows where either rater is
    * NULL are excluded (agreement is defined on co-rated rows only).
    * kappa is NULL when p_e = 1 (degenerate single-cell table).
    */
  def cohensKappa(df: DataFrame, aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column): DataFrame = {
    val counts = df
      .select(aCol.cast("boolean").as("__a"), bCol.cast("boolean").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n_only_a"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n_only_b"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n_neither"))
    val nD = col("n").cast("double")
    val po = (col("n_both") + col("n_neither")).cast("double") / nD
    val pe = ((col("n_both") + col("n_only_a")).cast("double") *
      (col("n_both") + col("n_only_b")).cast("double") +
      (col("n_only_b") + col("n_neither")).cast("double") *
        (col("n_only_a") + col("n_neither")).cast("double")) / (nD * nD)
    counts.select(col("n"), col("n_both"), col("n_only_a"),
      col("n_only_b"), col("n_neither"),
      round(po, 4).as("po"), round(pe, 4).as("pe"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 4)).as("kappa"))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among
    * `m` raters assigning each item to one categorical label; the
    * multi-rater generalization of [[cohensKappa]] a curation pipeline
    * runs when THREE-plus heuristics vote on the same corpus (do the
    * gates agree beyond chance, or is the ensemble noise?).
    *
    * Input is long-format (item, rater, category); items with a rating
    * count ≠ m are dropped (Fleiss assumes a constant panel — partial
    * panels are a different statistic). The whole computation stays in
    * exact BIGINTs until three final divides: with S = Σᵢ Σⱼ n²ᵢⱼ and
    * column sums cⱼ,
    *   P̄  = (S − n·m) / (n·m·(m−1)),   P̄ₑ = (Σⱼ c²ⱼ) / (n·m)²,
    * so no per-item double ever sums across rows (order-free by
    * construction, not by DECIMAL discipline). kappa is NULL when
    * P̄ₑ = 1 (all ratings in one category).
    *
    * Scale: one (item, category) partial-agg, one item-level agg, one
    * k-row category agg — narrow rows only, no window, no collect.
    */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
      catCol: String, m: Int): DataFrame = {
    require(m >= 2, "m must be >= 2")
    val r = df.select(col(itemCol).as("__i"),
        col(raterCol).as("__r"), col(catCol).cast("string").as("__c"))
      .filter(col("__i").isNotNull && col("__c").isNotNull)
    val nij = r.groupBy(col("__i"), col("__c")).agg(count(lit(1)).as("__n"))
    val item = nij.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__mi"),
        sum(col("__n") * col("__n")).as("__s2"))
      .filter(col("__mi") === m)
    val tot = item.agg(count(lit(1)).as("n_items"), sum(col("__s2")).as("__ss"))
    val cj = nij.join(item.select(col("__i")), Seq("__i"))
      .groupBy(col("__c")).agg(sum(col("__n")).as("__cj"))
    val cat = cj.agg(count(lit(1)).as("k_categories"),
      sum(col("__cj") * col("__cj")).as("__cc"))
    val n = col("n_items").cast("double")
    val mD = lit(m.toDouble)
    val pbar = (col("__ss").cast("double") - n * mD) /
      (n * mD * lit((m - 1).toDouble))
    val pe = col("__cc").cast("double") / (n * mD * n * mD)
    tot.crossJoin(cat).select(col("n_items"), col("k_categories"),
      round(pbar, 4).as("p_bar"), round(pe, 4).as("p_e"),
      when(pe < 1.0, round((pbar - pe) / (lit(1.0) - pe), 4)).as("kappa"))
  }

  /** Expected calibration error (Naeini 2015 binned formulation) of a
    * [0,1] confidence score against a binary label — the scalar
    * companion of QualityRules.calibrationTable (q181): the table shows
    * the reliability diagram, ECE prices its total deviation
    * n-weighted, WITH the mean-confidence side the table omits (gap is
    * |accuracy − mean confidence| per bin, not accuracy vs the bin
    * midpoint). Run before a scorer's outputs become sampling weights.
    *
    * Equal-width bins on [0,1]; bin b's gap contribution
    * n_b·|acc_b − conf_b| folds EXACTLY to |Σy − Σs| (one BIGINT, one
    * DECIMAL(18,6) sum of the 6dp-rounded scores), so
    * ECE = Σ_b |Σy − Σs| / N never sums per-row doubles. Per-bin rows
    * plus the corpus ECE (same value on every row, joined from the
    * 1-row total). Null score/label rows are excluded; score 1.0
    * clamps into the top bin.
    *
    * Scale: one binned partial-agg over narrow (bin, score, label)
    * rows; the bins-row frame is bounded by `bins`.
    */
  def calibrationError(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val r = scored.select(
        round(col(scoreCol).cast("double"), 6).cast("decimal(18,6)").as("__s"),
        col(labelCol).cast("bigint").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    val binned = r.withColumn("__b",
      least(floor(col("__s").cast("double") * bins), lit(bins - 1L))
        .cast("bigint"))
    val perBin = binned.groupBy(col("__b"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s")).cast("decimal(18,6)").as("__sc"),
        sum(col("__y")).as("__sy"))
    val totals = perBin.agg(sum(col("n")).as("__nt"),
      sum(abs(col("__sy").cast("decimal(18,6)") - col("__sc")))
        .cast("decimal(38,6)").as("__gap"))
    perBin.crossJoin(broadcast(totals)).select(
      col("__b").as("bin"), col("n"),
      round(col("__sc").cast("double") / col("n").cast("double"), 4)
        .as("conf"),
      round(col("__sy").cast("double") / col("n").cast("double"), 4)
        .as("acc"),
      round(col("__gap").cast("double") / col("__nt").cast("double"), 4)
        .as("ece"))
  }

  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code", eq. 1) over a long-format sample log —
    * the headline number of generation benchmarks: given n sampled
    * attempts per task of which c passed,
    *   pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{j=0}^{k−1} (n−c−j)/(n−j),
    * averaged over tasks. One row per requested k.
    *
    * n may vary by task; tasks with n < k are EXCLUDED for that k (the
    * estimator is undefined there) and reported in n_tasks. The product
    * form never touches factorials (no overflow) and short-circuits to
    * 1 when n − c < k (some numerator term hits ≤ 0 — clamped exactly).
    *
    * Determinism: the per-task product is a fixed-order left fold over
    * j = 0..k−1 (identical op sequence both engines), rounded 6dp; the
    * across-task mean is an exact DECIMAL sum of those 6dp values over
    * a single BIGINT divide, so aggregation order never shows.
    *
    * Scale: one (task) partial-agg over narrow (task, correct) rows,
    * then a bounded ks.size-way pass over the per-task frame. No
    * window, no collect.
    */
  def passAtK(samples: DataFrame, taskCol: String, correctCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val perTask = samples
      .select(col(taskCol).as("__t"),
        when(col(correctCol).cast("boolean"), 1L).otherwise(0L).as("__c"))
      .filter(col("__t").isNotNull)
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__k"))
    val perK = ks.map { k =>
      val n = col("__n")
      val c = col("__k")
      val prod = aggregate(sequence(lit(0L), lit(k - 1L)), lit(1.0),
        (acc, j) => acc * (greatest((n - c - j).cast("double"), lit(0.0)) /
          (n - j).cast("double")))
      perTask.filter(n >= k)
        .select(round(lit(1.0) - prod, 6).cast("decimal(18,6)").as("__p"))
        .agg(count(lit(1)).as("n_tasks"),
          sum(col("__p")).cast("decimal(38,6)").as("__s"))
        .select(lit(k.toLong).as("k"), col("n_tasks"),
          round(col("__s").cast("double") / col("n_tasks").cast("double"), 4)
            .as("pass_at_k"))
    }
    perK.reduce(_ unionAll _)
  }

  /** Murphy (1973) decomposition of the Brier score into
    * reliability − resolution + uncertainty, over equal-width confidence
    * bins — the diagnostic sibling of [[calibrationError]]: ECE prices
    * total miscalibration, this splits "how wrong are the stated
    * confidences" (reliability, lower better) from "how much signal does
    * the scorer actually carry" (resolution, higher better) against the
    * base-rate floor (uncertainty = ȳ(1−ȳ)).
    *
    * One summary row. The raw Brier sum Σ(s−y)² is EXACT: scores are
    * rounded 6dp first, so each (s−y)² is an exact 12dp value summed as
    * DECIMAL(38,12) (order-free). Reliability/resolution fold per bin to
    * (Σs−Σy)²/n_b and (N·Σy_b − n_b·ΣY)²/(n_b·N²) on exact BIGINT/
    * DECIMAL ingredients, each bin's term rounded 6dp before the
    * bins-row DECIMAL sum. Binning follows [[calibrationError]]: score
    * 1.0 clamps into the top bin; null score/label rows are excluded.
    *
    * Scale: one binned partial-agg; everything after runs on ≤ bins
    * rows.
    */
  def brierDecomposition(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val r = scored.select(
        round(col(scoreCol).cast("double"), 6).cast("decimal(18,6)").as("__s"),
        col(labelCol).cast("bigint").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    val binned = r.withColumn("__b",
      least(floor(col("__s").cast("double") * bins), lit(bins - 1L))
        .cast("bigint"))
    val perBin = binned.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__s")).cast("decimal(18,6)").as("__sc"),
        sum(col("__y")).as("__sy"),
        sum(((col("__s") - col("__y")).cast("decimal(18,6)") *
          (col("__s") - col("__y")).cast("decimal(18,6)"))
          .cast("decimal(38,12)")).cast("decimal(38,12)").as("__bs"))
    val tot = perBin.agg(sum(col("__n")).as("__nt"),
      sum(col("__sy")).as("__syt")).transform(Stage.scoped(eager = true))
    val nD = col("__n").cast("double")
    val ntD = col("__nt").cast("double")
    val relTerm = {
      val diff = (col("__sc") - col("__sy").cast("decimal(18,6)"))
        .cast("double")
      round(diff * diff / nD, 6).cast("decimal(18,6)")
    }
    val resTerm = {
      val num = (col("__sy") * col("__nt") - col("__n") * col("__syt"))
        .cast("double")
      round(num * num / (nD * ntD * ntD), 6).cast("decimal(18,6)")
    }
    val folded = perBin.crossJoin(broadcast(tot))
      .select(col("__n"), col("__bs"), relTerm.as("__rel"),
        resTerm.as("__res"), col("__nt"), col("__syt"))
      .agg(sum(col("__n")).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(col("__bs")).cast("decimal(38,12)").as("__bst"),
        sum(col("__rel")).cast("decimal(38,6)").as("__relt"),
        sum(col("__res")).cast("decimal(38,6)").as("__rest"),
        first(col("__nt")).as("__nt2"), first(col("__syt")).as("__syt2"))
    val nTot = col("__nt2").cast("double")
    val ybar = col("__syt2").cast("double") / nTot
    folded.select(col("n"), col("n_bins_used"),
      round(col("__bst").cast("double") / nTot, 4).as("brier"),
      round(col("__relt").cast("double") / nTot, 4).as("reliability"),
      round(col("__rest").cast("double") / nTot, 4).as("resolution"),
      round(ybar * (lit(1.0) - ybar), 4).as("uncertainty"))
  }

  /** Per-group binary confusion statistics with Matthews correlation
    * (Matthews 1975) — the single-threshold operating report run per
    * model/source/slice before trusting a classifier gate on skewed
    * corpora (MCC, unlike accuracy or F1, is symmetric in classes and
    * collapses to 0 for constant predictors).
    *
    * tp/fp/fn/tn are exact BIGINTs from one partial-agg pass; accuracy,
    * precision, recall, f1 and mcc are single fixed-order double
    * expressions on them (the four MCC factors multiply as DOUBLES —
    * no BIGINT product overflow at corpus scale). Rows where either
    * side is NULL are excluded; mcc/precision/recall/f1 are NULL where
    * their denominators vanish (constant predictor or single-class
    * slice), by design.
    */
  def confusionStats(df: DataFrame, groupCol: String, predCol: Column,
      labelCol: Column): DataFrame = {
    val g = df.select(col(groupCol).as("__g"),
        predCol.cast("boolean").as("__p"), labelCol.cast("boolean").as("__y"))
      .filter(col("__p").isNotNull && col("__y").isNotNull)
      .groupBy(col("__g"))
      .agg(
        sum(when(col("__p") && col("__y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("__p") && !col("__y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("__p") && col("__y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("__p") && !col("__y"), 1L).otherwise(0L)).as("tn"))
    val (tp, fp, fn, tn) = (col("tp").cast("double"), col("fp").cast("double"),
      col("fn").cast("double"), col("tn").cast("double"))
    val denom = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    g.select(col("__g").as(groupCol), col("tp"), col("fp"), col("fn"),
      col("tn"),
      round((tp + tn) / (tp + fp + fn + tn), 4).as("accuracy"),
      when(col("tp") + col("fp") > 0, round(tp / (tp + fp), 4))
        .as("precision"),
      when(col("tp") + col("fn") > 0, round(tp / (tp + fn), 4)).as("recall"),
      when(col("tp") * 2 + col("fp") + col("fn") > 0,
        round(tp * 2 / (tp * 2 + fp + fn), 4)).as("f1"),
      when((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0 &&
        (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0,
        round((tp * tn - fp * fn) / denom, 4)).as("mcc"))
  }

  /** Benjamini-Hochberg (1995) step-up FDR adjustment over a frame of
    * per-experiment p-values — the multiple-testing gate an eval
    * pipeline runs when it tests MANY slices at once (per-source
    * quality drifts, per-language regressions): controlling per-test
    * α at 0.05 over 50 slices expects 2.5 false alarms; BH bounds the
    * FALSE DISCOVERY RATE instead.
    *
    * adjusted p̃_(i) = min_{j ≥ i} (m·p_(j)/j), discoveries are
    * p̃ ≤ alpha. Ties order deterministically by (p, id). Both the rank
    * and the suffix-min run as self-joins on the m-row frame — m (the
    * number of EXPERIMENTS, not corpus rows) is small by nature, the
    * documented smallness contract of [[kendallTau]]'s oracle-baseline
    * forms — so no global single-partition window ever appears.
    *
    * p-values must be exact numerics (the caller computes them from a
    * discrete test or supplies them); comparisons and the suffix MIN
    * are exact, one m·p/j divide per pair.
    *
    * The smallness contract is ENFORCED (`maxExperiments`, default
    * 10 000): the self-join is O(m²) broadcast rows, so a caller
    * accidentally passing a per-document frame (m in the millions)
    * fails fast with a actionable error instead of a silent quadratic
    * blow-up. Raise the cap only for frames that are genuinely
    * experiment-level.
    */
  def bhAdjust(pvals: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05, maxExperiments: Long = 10000L): DataFrame = {
    val base = pvals.select(col(idCol).as("__id"),
        col(pCol).cast("double").as("__p"))
      .filter(col("__p").isNotNull).transform(Stage.scoped(eager = true))
    val mCount = base.count()
    require(mCount <= maxExperiments,
      s"bhAdjust got $mCount p-values; the O(m²) self-join form is " +
        s"for experiment-level frames (<= $maxExperiments). For larger " +
        "frames pre-aggregate to experiment granularity or raise " +
        "maxExperiments deliberately.")
    val m = base.agg(count(lit(1)).as("__m"))
    val l = base.select(col("__id"), col("__p"))
    val r = base.select(col("__id").as("__id2"), col("__p").as("__p2"))
    val ranked = l.crossJoin(broadcast(r))
      .filter(col("__p2") < col("__p") ||
        (col("__p2") === col("__p") && col("__id2") <= col("__id")))
      .groupBy(col("__id"), col("__p"))
      .agg(count(lit(1)).as("rank"))
    val r2 = ranked.select(col("__p").as("__pj"), col("rank").as("__rj"))
    ranked.crossJoin(broadcast(r2))
      .filter(col("__rj") >= col("rank"))
      .crossJoin(broadcast(m))
      .groupBy(col("__id"), col("__p"), col("rank"))
      .agg(min(least(col("__m").cast("double") * col("__pj") /
        col("__rj").cast("double"), lit(1.0))).as("__adj"))
      .select(col("__id").as(idCol), round(col("__p"), 6).as("p_value"),
        col("rank"), round(col("__adj"), 6).as("p_adjusted"),
        (col("__adj") <= alpha).as("discovery"))
  }

  /** Krippendorff's alpha (nominal metric) — chance-corrected agreement
    * over an INCOMPLETE long-format rating frame: unlike
    * [[fleissKappa]], units may have any number of ratings ≥ 2 (missing
    * ratings are the norm in real annotation), and the expected
    * disagreement is computed from the pooled value marginals.
    *
    *   D_o = (1/n) Σ_u (n_u² − Σ_c n_uc²) / (n_u − 1)
    *   D_e = (n² − Σ_c n_c²) / (n(n−1))          alpha = 1 − D_o/D_e
    *
    * where n counts PAIRABLE values (units with ≥ 2 ratings only).
    * Per-unit disagreement terms are exact rationals rounded 6dp then
    * DECIMAL-summed (order-free; the q302 per-element discipline); D_e
    * is exact BIGINT arithmetic with n² as a double PRODUCT. alpha is
    * NULL when D_e = 0 (single observed category).
    *
    * Scale: one (unit, value) partial-agg, one unit-level agg, one
    * k-row category agg — narrow rows, no window, no collect.
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String, raterCol: String,
      valueCol: String): DataFrame = {
    val r = df.select(col(unitCol).as("__u"),
        col(valueCol).cast("string").as("__c"))
      .filter(col("__u").isNotNull && col("__c").isNotNull)
    val nuc = r.groupBy(col("__u"), col("__c")).agg(count(lit(1)).as("__n"))
      .transform(Stage.scoped(eager = true))
    val unit = nuc.groupBy(col("__u"))
      .agg(sum(col("__n")).as("__nu"),
        sum(col("__n") * col("__n")).as("__s2"))
      .filter(col("__nu") >= 2)
      .transform(Stage.scoped(eager = true))
    val doSum = unit.select(
        round((col("__nu") * col("__nu") - col("__s2")).cast("double") /
          (col("__nu") - 1).cast("double"), 6).cast("decimal(18,6)")
          .as("__t"),
        col("__nu"))
      .agg(count(lit(1)).as("n_units"), sum(col("__nu")).as("n_values"),
        sum(col("__t")).cast("decimal(38,6)").as("__do"))
    val cj = nuc.join(unit.select(col("__u")), Seq("__u"))
      .groupBy(col("__c")).agg(sum(col("__n")).as("__cj"))
    val cat = cj.agg(count(lit(1)).as("k_categories"),
      sum(col("__cj") * col("__cj")).as("__cc"))
    val n = col("n_values").cast("double")
    val dObs = col("__do").cast("double") / n
    val dExp = (n * n - col("__cc").cast("double")) / (n * (n - lit(1.0)))
    doSum.crossJoin(cat).select(col("n_units"), col("n_values"),
      col("k_categories"),
      round(dObs, 4).as("d_o"), round(dExp, 4).as("d_e"),
      when(dExp > 0, round(lit(1.0) - dObs / dExp, 4)).as("alpha"))
  }

  /** Split-conformal coverage audit (Vovk 2005; Angelopoulos & Bates
    * 2021 formulation) per group — the distribution-free calibration
    * check that turns ANY binary scorer into prediction SETS with a
    * guaranteed error rate: on the calibration split, the nonconformity
    * of the true class (1−s if positive, s if negative) is ranked and
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest; on the test split, a class is in
    * the set iff its nonconformity ≤ q̂. Reported per group: does
    * empirical coverage hit 1−α, and how large do the sets get (the
    * efficiency price of the guarantee)?
    *
    * α is passed as the exact fraction `alphaNum/alphaDen`, so the rank
    * ⌈(n+1)(d−n)/d⌉ is pure integer arithmetic (clamped to n_cal).
    * Scores/nonconformities stay raw doubles — only COMPARED, never
    * summed — and the value at rank r is tie-order independent. The
    * rank window partitions by group (never global). Returns one row
    * per group: n_cal, q_hat, n_test, coverage, avg_set_size.
    */
  def conformalCoverage(df: DataFrame, groupCol: String, scoreCol: Column,
      labelCol: Column, calibCol: Column, alphaNum: Int = 1,
      alphaDen: Int = 10): DataFrame = {
    require(alphaNum >= 1 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val base = df.select(col(groupCol).as("__g"),
        scoreCol.cast("double").as("__s"),
        labelCol.cast("boolean").as("__y"),
        calibCol.cast("boolean").as("__cal"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .transform(Stage.scoped(eager = true))
    val nonconf = when(col("__y"), lit(1.0) - col("__s")).otherwise(col("__s"))
    val cal = base.filter(col("__cal")).withColumn("__nc", nonconf)
    val nCal = cal.groupBy(col("__g")).agg(count(lit(1)).as("n_cal"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__nc"))
    val ranked = cal.withColumn("__rn", row_number().over(w))
    val qhat = ranked
      .join(broadcast(nCal.select(col("__g"), col("n_cal"))), Seq("__g"))
      .withColumn("__r", least(
        (((col("n_cal") + 1) * lit((alphaDen - alphaNum).toLong) +
          lit(alphaDen.toLong) - 1) / lit(alphaDen.toLong)).cast("long"),
        col("n_cal")))
      .filter(col("__rn") === col("__r"))
      .select(col("__g"), col("n_cal"), col("__nc").as("__qh"))
    val test = base.filter(!col("__cal")).withColumn("__nc", nonconf)
      .join(broadcast(qhat), Seq("__g"))
      .select(col("__g"), col("n_cal"), col("__qh"),
        (col("__nc") <= col("__qh")).cast("long").as("__cov"),
        ((lit(1.0) - col("__s") <= col("__qh")).cast("long") +
          (col("__s") <= col("__qh")).cast("long")).as("__sz"))
    test.groupBy(col("__g"), col("n_cal"), col("__qh"))
      .agg(count(lit(1)).as("n_test"), sum(col("__cov")).as("__nc2"),
        sum(col("__sz")).as("__szs"))
      .select(col("__g").as(groupCol), col("n_cal"),
        round(col("__qh"), 6).as("q_hat"), col("n_test"),
        round(col("__nc2").cast("double") / col("n_test").cast("double"), 4)
          .as("coverage"),
        round(col("__szs").cast("double") / col("n_test").cast("double"), 4)
          .as("avg_set_size"))
  }

  /** Kendall's tau-b between two numeric orderings of the same items,
    * per group — the pairwise-concordance complement of Profile.spearman
    * (rank-difference) and Retrieval.rankBiasedOverlap (top-weighted),
    * and the two-SCORER sibling of EventAnalytics.mannKendall (which
    * runs the same S statistic against TIME for trend): tau answers
    * "if x says A > B, how often does y agree?", the statistic quoted
    * when two scorers must be interchangeable, not just correlated.
    *
    * tau_b = (C − D) / √(P_x · P_y) where C/D are concordant and
    * discordant pair counts and P_x/P_y count pairs NOT tied on each
    * side — the pairwise identity that absorbs tau-b's tie terms
    * without per-group tie histograms. All four are exact BIGINTs from
    * one self-join; one final sqrt+divide. NULL when either side is
    * all-ties.
    *
    * Scale: the self-join is O(k²) per group — callers MUST bound the
    * per-group item count (the documented smallness contract, same as
    * the oracle-baseline all-pairs forms); the join shuffles on the
    * group key only.
    */
  def kendallTau(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String): DataFrame = {
    val r = df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val l = r.select(col("__g"), col("__id").as("__il"),
      col("__x").as("__xl"), col("__y").as("__yl"))
    val rt = r.select(col("__g"), col("__id").as("__ir"),
      col("__x").as("__xr"), col("__y").as("__yr"))
    val dx = col("__xl") - col("__xr")
    val dy = col("__yl") - col("__yr")
    l.join(rt, Seq("__g")).filter(col("__il") < col("__ir"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(dx * dy > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(dx * dy < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(dx =!= 0, 1L).otherwise(0L)).as("__px"),
        sum(when(dy =!= 0, 1L).otherwise(0L)).as("__py"))
      .select(col("__g").as(groupCol), col("n_pairs"),
        col("concordant"), col("discordant"),
        when(col("__px") > 0 && col("__py") > 0,
          round((col("concordant") - col("discordant")).cast("double") /
            sqrt(col("__px").cast("double") * col("__py").cast("double")),
            4)).as("tau_b"))
  }
}
