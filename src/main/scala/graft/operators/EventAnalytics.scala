package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over event logs: conversion funnels,
  * retention cohorts, and event-transition matrices — the standard OLAP
  * event-analysis family (the reference's pipeline processes observation
  * logs; these are the corresponding analytical queries, re-expressed as
  * Spark plans).
  *
  * Time semantics: Spark timestamps are MICROsecond precision, so every
  * ordering / strict-inequality here is stated over (epoch-µs, event_id)
  * — a total order the DuckDB oracle replays with epoch_us(ts) even
  * though its own timestamps keep nanoseconds (the q71/q72 convention).
  *
  * Scale shapes: each operator shuffles on the user key once (the
  * per-step funnel joins re-use the same hash partitioning — AQE-visible
  * exchange reuse), then reduces to tiny aggregate frames. No windows
  * over unbounded partitions except per-user event ordering (bounded by
  * a user's own activity).
  */
object EventAnalytics {

  /** Ordered conversion funnel: for each user, the earliest time of
    * step 1, then the earliest step-2 event STRICTLY after it, and so on
    * (the classic "did A, then B, then C" chain — each step must follow
    * the previous completion, not merely exist).
    *
    * Returns one row per step: users reached, conversion from step 1
    * (exact integer quotient), and mean hours from the previous step
    * (exact µs-integer sums divided once — deterministic cross-engine).
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = unix_micros(col(tsCol))
    val base = events.select(col(userCol).as("u"), col(typeCol).as("t"), us.as("us"))

    // chain of per-user step-completion times: t1 = min us of step 1;
    // tk = min us of step k with us > t(k-1)
    var reached: DataFrame = base.filter(col("t") === steps.head)
      .groupBy(col("u")).agg(min(col("us")).as("t1"))
    val stepFrames = Seq.newBuilder[DataFrame]
    stepFrames += reached
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val prev = s"t$i"; val cur = s"t${i + 1}"
      reached = base.filter(col("t") === step)
        .join(reached, Seq("u"))
        .filter(col("us") > col(prev))
        .groupBy(col("u"), col(prev)).agg(min(col("us")).as(cur))
      stepFrames += reached
    }

    val rows = stepFrames.result().zipWithIndex.map { case (df, i) =>
      val cur = s"t${i + 1}"
      val agg = df.agg(
        count(lit(1)).as("users"),
        (if (i == 0) min(lit(null).cast("long"))
         else sum(col(cur) - col(s"t$i"))).as("__sum_us"))
      agg.select(lit(i + 1).as("step"), lit(steps(i)).as("event_type"),
        col("users"), col("__sum_us"))
    }.reduce(_ unionAll _)

    val first = rows.filter(col("step") === 1)
      .select(col("users").as("__first_users"))
    rows.crossJoin(broadcast(first))
      .select(col("step"), col("event_type"), col("users"),
        when(col("__first_users") > 0,
          col("users").cast("double") / col("__first_users"))
          .otherwise(lit(0.0)).as("conv_from_first"),
        when(col("users") > 0 && col("__sum_us").isNotNull,
          col("__sum_us").cast("double") / col("users") / lit(3600000000.0))
          .as("avg_hours_from_prev"))
  }

  /** Retention cohorts: cohort = a user's first-ever event day; one row
    * per (cohort_day, day_offset) with the distinct active users — the
    * classic triangle. Exact integer counts only.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val base = events.select(col(userCol).as("u"), to_date(col(tsCol)).as("d"))
    val cohorts = base.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    base.join(cohorts, Seq("u"))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("u")).as("active_users"))
  }

  /** Per-group least-squares trend: slope/intercept of `value` against
    * event-hour (epoch µs ÷ 3600000000, exact integral division) — the
    * grouped-OLS family (metric drift per segment).
    *
    * Round-10 migration to the DECIMAL-moment idiom (the q346 `ols2`
    * pattern): x is an exact integer hour, y is 6dp-canonicalized to
    * DECIMAL(18,6), and Σx, Σy, Σxy, Σx² are EXACT decimal sums —
    * order-free, partial+final aggregation, O(1) state per partial
    * buffer (the previous event-id-ordered collect_list fold held an
    * entire group's events in one aggregation buffer — an OOM hazard
    * at 100 TB group cardinality). Slope/intercept are one fixed
    * double op sequence on the exact sums, replayed by the oracle —
    * still bit-exact cross-engine on raw doubles.
    */
  def groupTrend(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = events.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        expr(s"unix_micros($tsCol) div 3600000000L").as("xh"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("y"))
    val sums = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("xh").cast("decimal(20,0)")).cast("decimal(38,0)")
          .as("__dsx"),
        sum(col("y")).cast("decimal(38,6)").as("__dsy"),
        sum((col("xh").cast("decimal(12,0)") * col("y"))
          .cast("decimal(38,6)")).cast("decimal(38,6)").as("__dsxy"),
        sum((col("xh") * col("xh")).cast("decimal(20,0)"))
          .cast("decimal(38,0)").as("__dsxx"))
      .select(col("g"), col("n"),
        col("__dsx").cast("double").as("__sx"),
        col("__dsy").cast("double").as("__sy"),
        col("__dsxy").cast("double").as("__sxy"),
        col("__dsxx").cast("double").as("__sxx"))
    val nD = col("n").cast("double")
    val denom = nD * col("__sxx") - col("__sx") * col("__sx")
    val slope = (nD * col("__sxy") - col("__sx") * col("__sy")) / denom
    sums.select(col("g").as(groupCol), col("n"),
      when(denom =!= 0.0, slope).as("slope"),
      when(denom =!= 0.0, (col("__sy") - slope * col("__sx")) / nD)
        .as("intercept"))
  }

  /** Per-key EWMA (exponentially weighted moving average) with
    * deviation-from-forecast — the sequential-recursion family
    * (e₁ = x₁; eᵢ = α·xᵢ + (1−α)·eᵢ₋₁) that windows cannot express.
    *
    * Implementation is a per-key ORDERED FOLD over the collected event
    * array (sorted by (µs, id)) — no typed lambdas/UDFs, one shuffle on
    * the key; state per key is its own history (bounded by per-key
    * activity — at 100 TB cap key cardinality or window the input, as
    * with any per-key sequential op; see [[ewmaFinal]]'s skew
    * contract, stress-pinned by q350). Every step is a fixed IEEE op
    * sequence, so outputs are BIT-exact vs the oracle's recursive-CTE
    * replay (α = 0.25 is binary-exact; 1−α likewise).
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double = 0.25): DataFrame = {
    val oneMinus = 1.0 - alpha
    val sorted = events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("x"))
      .groupBy(col("k"))
      .agg(array_sort(collect_list(struct(col("us"), col("id"), col("x"))))
        .as("__ev"))
    // the fold's zero must carry the CALLER's id type (a hard-coded
    // bigint fails analysis for string event-ids: the merge lambda's
    // struct<…,id:string> wouldn't unify with the zero)
    val idSql = events.select(col(idCol)).schema.head.dataType.sql
    val zero = struct(
      array().cast(s"array<struct<id:$idSql,ewma:double,dev:double>>")
        .as("out"),
      lit(null).cast("double").as("prev"))
    val folded = sorted.select(col("k"),
      aggregate(col("__ev"), zero, (acc, e) => {
        val x = e.getField("x")
        val prev = acc.getField("prev")
        val next = when(prev.isNull, x)
          .otherwise(lit(alpha) * x + lit(oneMinus) * prev)
        struct(
          concat(acc.getField("out"), array(struct(
            e.getField("id").as("id"), next.as("ewma"),
            (x - prev).as("dev")))).as("out"),
          next.as("prev"))
      }).getField("out").as("__out"))
    folded.select(explode(col("__out")).as("r"))
      .select(col("r.id").as("event_id"), col("r.ewma").as("ewma"),
        col("r.dev").as("deviation"))
  }

  /** FINAL EWMA state per key — the per-key sequential fold reduced to
    * its O(1) result (key, n_events, ewma_final), the form the q350
    * skew-stress lane drives over a hot-key distribution.
    *
    * SKEW CONTRACT (shared by every per-key ordered fold — [[ewma]],
    * [[cusum]], [[holtLinear]], [[autocorrelation]], [[theilSen]]):
    * the aggregation buffer holds ONE key's full ordered history
    * (~24 B/event), so the bound is per-KEY, not per-corpus — ~10⁷
    * events on a single key ≈ 240 MB is the practical executor-buffer
    * ceiling. Beyond that, window the input (e.g. last-90-days slice)
    * or pre-aggregate to a coarser tick before folding; the q350 lane
    * pins the behavior at a 30%-of-corpus hot key. The fold itself is
    * one fixed IEEE sequence (α dyadic), bit-exact vs the oracle's
    * list_reduce replay.
    */
  def ewmaFinal(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alpha: Double = 0.25): DataFrame = {
    val oneMinus = 1.0 - alpha
    events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("x"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("us"), col("id"), col("x")))),
            e => e.getField("x")),
          lit(null).cast("double"),
          (acc, x) => when(acc.isNull, x)
            .otherwise(lit(alpha) * x + lit(oneMinus) * acc))
          .as("ewma_final"))
      .select(col("k").as(keyCol), col("n_events"), col("ewma_final"))
  }

  /** Chi-square test of independence over a two-column contingency
    * table: χ² = Σ (observed − expected)² / expected with expected =
    * rowTotal·colTotal / N. Margins are exact integers (products stay
    * within double-exact range for realistic counts); the cell sum
    * folds in (row, col) order and rounds 4dp. Returns one row:
    * (chi2, dof, n). The workhorse "is this segmentation informative"
    * test for categorical drift / feature screening.
    */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    chiFrame(df, rowCol, colCol)
      .select(round(col("__chi"), 4).as("chi2"),
        ((col("__nr") - 1) * (col("__nc") - 1)).as("dof"), col("n"))

  /** Shared complete-grid χ² fold: one row carrying the (r, c)-ordered
    * raw χ² plus the table dimensions, for [[chiSquare]] / [[cramersV]].
    */
  private def chiFrame(df: DataFrame, rowCol: String,
      colCol: String): DataFrame = {
    val cells = df.select(col(rowCol).cast("string").as("r"),
      col(colCol).cast("string").as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("r")).agg(sum(col("o")).as("__rt"))
    val cols = cells.groupBy(col("c")).agg(sum(col("o")).as("__ct"))
    val n = cells.agg(sum(col("o")).as("__n"))
    val full = rows.crossJoin(cols).crossJoin(broadcast(n))
      .join(cells, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"),
        ((col("__rt") * col("__ct")).cast("double") / col("__n")).as("e"),
        col("__n"))
    full
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("r"), col("c"),
            (((col("o") - col("e")) * (col("o") - col("e"))) / col("e"))
              .as("t")))),
            x => x.getField("t")),
          lit(0.0), (acc, x) => acc + x).as("__chi"),
        count_distinct(col("r")).as("__nr"),
        count_distinct(col("c")).as("__nc"),
        max(col("__n")).as("n"))
  }

  /** Cramér's V — the [0, 1] effect-size normalization of [[chiSquare]]
    * (Cramér 1946): V = √(χ²/(n·min(r−1, c−1))), the number that makes
    * association strengths comparable ACROSS tables of different shapes
    * (a χ² of 500 means nothing without its n and dof; V = 0.03 says
    * "statistically real, practically nil" — the dataset-audit reading).
    * V composes from the 4dp-rounded χ² (the published number, same on
    * both engines); NULL for degenerate 1×k tables.
    */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val minDim = least(col("__nr") - 1, col("__nc") - 1)
    chiFrame(df, rowCol, colCol)
      .select(col("n"), col("__nr").as("n_rows"), col("__nc").as("n_cols"),
        round(col("__chi"), 4).as("chi2"),
        when(minDim > 0,
          round(sqrt(round(col("__chi"), 4) /
            (col("n") * minDim).cast("double")), 4)).as("cramers_v"))
  }

  /** Markov sequence-likelihood scoring: train the first-order
    * transition model on a reference log, then score each key's event
    * sequence by mean negative log-probability of its transitions under
    * add-α smoothing — the bigram-LM recipe ([[TextAnalysis
    * .bigramLmScores]]) applied to behavioral sequences (bot/anomaly
    * flagging: improbable event chains score high).
    *
    * logp(next|prev) = ln((c(prev,next) + α) / (c(prev) + α·V)), V =
    * distinct event types. Per-key sums fold in transition order (µs,
    * id) — fixed FP sequence — and the mean rounds 4dp (ln ulp).
    */
  def markovScores(reference: DataFrame, events: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    def pairs(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("k")).orderBy(col("us"), col("id"))
      df.select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(typeCol).as("t"))
        .withColumn("prev", lag(col("t"), 1).over(w))
        .filter(col("prev").isNotNull)
    }
    val refPairs = pairs(reference)
    val c2 = refPairs.groupBy(col("prev"), col("t")).agg(count(lit(1)).as("__c2"))
    val c1 = refPairs.groupBy(col("prev")).agg(count(lit(1)).as("__c1"))
    val v = reference.select(col(typeCol).as("t"))
      .agg(count_distinct(col("t")).cast("double").as("__v"))
    pairs(events)
      .join(c2, Seq("prev", "t"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(v))
      .withColumn("__logp", log(
        (coalesce(col("__c2"), lit(0L)).cast("double") + lit(alpha)) /
          (coalesce(col("__c1"), lit(0L)).cast("double") + lit(alpha) * col("__v"))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_transitions"),
        aggregate(
          transform(array_sort(collect_list(struct(col("us"), col("id"),
            col("__logp").as("lp")))), x => x.getField("lp")),
          lit(0.0), (acc, x) => acc + x).as("__s"))
      .select(col("k").as(keyCol), col("n_transitions"),
        round(-col("__s") / col("n_transitions").cast("double"), 4)
          .as("avg_neg_logp"))
  }

  /** Gaps-and-islands report per key: island count (sessions at `gap`),
    * total active span inside islands, and the LONGEST inactivity gap —
    * all exact µs integers off the lag window ([[Sessionize]]'s
    * boundary math, reduced to per-key stats in one pass).
    */
  def gapsAndIslands(events: DataFrame, keyCol: String, tsCol: String,
      gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("us"))
    val base = events.select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"))
      .withColumn("__prev", lag(col("us"), 1).over(w))
      .withColumn("__delta", col("us") - col("__prev"))
    base.groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        (coalesce(sum(when(col("__delta") > gapUs, 1L)), lit(0L)) + 1L)
          .as("n_islands"),
        coalesce(sum(when(col("__delta") <= gapUs, col("__delta"))), lit(0L))
          .as("active_us"),
        max(when(col("__delta") > gapUs, col("__delta"))).as("longest_gap_us"))
      .select(col("k").as(keyCol), col("n_events"), col("n_islands"),
        col("active_us"), col("longest_gap_us"))
  }

  /** SCD type-2 interval construction: compress a per-key event stream
    * into validity intervals — one row per run of consecutive equal
    * states, carrying [valid_from, valid_to) in epoch-µs (open-ended
    * NULL for the current state) plus the run's event count. The
    * change-data-capture → dimension-table build every warehouse runs;
    * the event-stream inverse of [[gapsAndIslands]] (state CHANGES cut
    * runs, not time gaps).
    *
    * Determinism: rows order by (µs, event id) — a total order — and
    * the version number is the running count of state changes, so every
    * output cell is an exact integer / verbatim state. Scale shape: one
    * shuffle on the key for the lag/running-sum window (bounded by a
    * key's own activity), then a per-(key, version) partial-agg and one
    * more bounded window for the interval close — no corpus-wide
    * window, no driver state.
    */
  def scd2Intervals(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("eid"))
    val runs = events
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("eid"), col(stateCol).as("state"))
      .withColumn("__chg",
        when(lag(col("state"), 1).over(w).isNull ||
          lag(col("state"), 1).over(w) =!= col("state"), 1L).otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("version"))
      .agg(min(col("state")).as("state"),
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("k")).orderBy(col("version"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
      .select(col("k").as(keyCol), col("version"), col("state"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
  }

  /** Population stability index (PSI) — the standard production drift
    * monitor: bin the CURRENT value distribution by the REFERENCE
    * distribution's exact deciles and score
    * Σ (p_i − q_i)·ln(p_i / q_i) per group.
    *
    * Determinism: boundaries are exact nearest-rank deciles (integer
    * rank targets, the groupQuantiles math); bin assignment counts
    * strictly-smaller boundaries (duplicate boundaries collapse bins —
    * deterministic); counts are add-0.5-over-10-bins smoothed (zero
    * bins stay finite); the PSI sum folds in bin order and rounds 4dp
    * (ln ulp). Shapes: boundary pass = one rank window over the
    * reference; binning = broadcast boundary-array join; counts
    * partial-agg map-side.
    *
    * Groups with NO reference distribution (present only in `current`,
    * or all-null reference values) emit a row with NULL psi — the
    * most-drifted case (a brand-new segment) must surface in the
    * report, not vanish through the boundary join.
    */
  def psiDrift(reference: DataFrame, current: DataFrame, groupCol: String,
      valueCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val cw = Window.partitionBy(col("g"))
    val refRanked = reference.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
    // b_j = value at rank ceil(j*n/bins), j = 1..bins-1
    val bounds = refRanked.groupBy(col("g"))
      .agg(sort_array(collect_list(
        expr(s"CASE WHEN __rn IN (${(1 until bins)
          .map(j => s"($j * __n + ${bins - 1}) div $bins").mkString(",")})" +
          " THEN v END")), asc = true).as("__bs"))
      .select(col("g"), filter(col("__bs"), b => b.isNotNull).as("__bs"))
    def binned(df: DataFrame, side: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
        .join(broadcast(bounds), Seq("g"))
        .select(col("g"),
          (size(filter(col("__bs"), b => col("v") > b)) + 1).as("bin"))
        .groupBy(col("g"), col("bin")).agg(count(lit(1)).as(side))
    val joined = binned(reference, "ref_n")
      .join(binned(current, "cur_n"), Seq("g", "bin"), "full_outer")
      .select(col("g"), col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = joined.groupBy(col("g"))
      .agg(sum(col("ref_n")).as("__rt"), sum(col("cur_n")).as("__ct"))
    val psi = joined.join(broadcast(totals), Seq("g"))
      .select(col("g"), col("bin"),
        ((col("ref_n") + lit(0.5)) / (col("__rt") + lit(0.5 * bins))).as("p"),
        ((col("cur_n") + lit(0.5)) / (col("__ct") + lit(0.5 * bins))).as("q"))
      .groupBy(col("g"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("bin"),
          ((col("p") - col("q")) * log(col("p") / col("q"))).as("t")))),
          x => x.getField("t")),
        lit(0.0), (acc, x) => acc + x).as("__psi"))
    // group universe = ref ∪ cur: a current-only group joins nothing
    // above (no reference bins) and must still report, with NULL psi
    reference.select(col(groupCol).as("g"))
      .union(current.select(col(groupCol).as("g")))
      .filter(col("g").isNotNull).distinct()
      .join(psi, Seq("g"), "left")
      .select(col("g").as(groupCol), round(col("__psi"), 4).as("psi"))
  }

  final case class EwmaState(prev: Double)
  final case class EwmaOut(event_id: Long, ewma: Double,
      deviation: Option[Double])

  /** Streaming form of [[ewma]]: `flatMapGroupsWithState` carrying one
    * double of state per key (the last smoothed value) across batches —
    * the [[Sessionize]] stateful pattern applied to sequential
    * recursion. Within a batch rows process in (µs, id) order; across
    * batches the state hands the recursion forward, so results equal
    * the batch fold whenever batch arrival respects event-time order
    * (file streams delivering time-partitioned files — the standard
    * contract; q166 drives one file = one batch, where equality is
    * unconditional).
    */
  def ewmaStream(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String,
      alpha: Double = 0.25): org.apache.spark.sql.Dataset[EwmaOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val oneMinus = 1.0 - alpha
    stream.filter(col(valueCol).isNotNull)
      .select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var prev: Option[Double] = state.getOption.map(_.prev)
          val out = sorted.map { case (_, _, id, x) =>
            val dev = prev.map(x - _)
            val e = prev match {
              case None => x
              case Some(p) => alpha * x + oneMinus * p
            }
            prev = Some(e)
            EwmaOut(id, e, dev)
          }
          prev.foreach(p => state.update(EwmaState(p)))
          out.iterator
      }
  }

  /** First-order event-transition matrix: per user, consecutive event
    * pairs in (µs, event_id) order; counts and the conditional
    * probability P(next | prev) as an exact integer quotient.
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("u"))
      .orderBy(col("us"), col("id"))
    val pairs = events
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(typeCol).as("t"))
      .withColumn("prev", lag(col("t"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("t").as("next"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy(col("prev")).agg(sum(col("cnt")).as("__tot"))
    pairs.join(broadcast(totals), Seq("prev"))
      .select(col("prev"), col("next"), col("cnt"),
        (col("cnt").cast("double") / col("__tot")).as("p_next"))
  }

  /** Per-key inter-arrival burstiness (Goh & Barabási 2008): over the
    * consecutive-event gaps g (exact µs longs in (µs, id) order) report
    * the gap count, mean gap in seconds, coefficient of variation σ/µ
    * and B = (σ−µ)/(σ+µ) — the bot-vs-human / machine-cadence signal
    * (B→−1 periodic, ≈0 Poisson, →1 bursty).
    *
    * Determinism WITHOUT a whole-key fold (round-10 migration — the
    * previous form collected every gap of a key into one aggregation
    * buffer, an OOM on a hot key): gaps are exact µs longs, so with the
    * integer shift c = Σg div n the power sums S₁ = Σ(g−c),
    * S₂ = Σ(g−c)² are EXACT DECIMAL — order-free, partial+final,
    * merge-safe — and Σ(g−µ)² = S₂ − S₁²/n is one fixed double op
    * sequence on exact inputs (the skewKurtosis idiom). µ is one
    * double division of the exact BIGINT Σg; every displayed double
    * rounds 4dp with the `+ 0.0` canonicalization (B straddles 0, so
    * round can emit IEEE −0.0). Two shuffles on the key (shift pass +
    * moment pass); per-key state is four decimals, never the history.
    */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, minGaps: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("id"))
    val gaps = events
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"))
      .withColumn("g", col("us") - lag(col("us"), 1).over(w))
      .filter(col("g").isNotNull)
      .select(col("k"), col("g"))
    val shift = gaps.groupBy(col("k"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("__sg"))
      .filter(col("n_gaps") >= minGaps)
      .withColumn("__c", expr("__sg div n_gaps"))
    val agg1 = gaps.join(shift, Seq("k"))
      .withColumn("__d", col("g") - col("__c"))
      .groupBy(col("k"))
      .agg(first(col("n_gaps")).as("n_gaps"), first(col("__sg")).as("__sg"),
        sum(col("__d").cast("decimal(19,0)")).cast("decimal(38,0)")
          .as("__s1"),
        sum((col("__d").cast("decimal(19,0)") *
          col("__d").cast("decimal(19,0)"))).cast("decimal(38,0)")
          .as("__s2"))
      .withColumn("__mu", col("__sg").cast("double") / col("n_gaps"))
    val withVar = agg1.withColumn("__ss",
      col("__s2").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double") /
          col("n_gaps").cast("double"))
      .withColumn("__sigma", sqrt(col("__ss") / col("n_gaps")))
    withVar.select(col("k").as(keyCol), col("n_gaps"),
      (round(col("__mu") / 1e6, 4) + 0.0).as("mean_gap_s"),
      when(col("__mu") > 0,
        round(col("__sigma") / col("__mu"), 4) + 0.0).as("cv"),
      when(col("__mu") > 0,
        round((col("__sigma") - col("__mu")) /
          (col("__sigma") + col("__mu")), 4) + 0.0).as("burstiness"))
  }

  /** Theil-Sen robust trend per key: the (lower) median of all pairwise
    * slopes (vⱼ−vᵢ)/(tⱼ−tᵢ) over the key's events — the
    * breakdown-point-0.29 alternative to [[groupTrend]]'s OLS slope
    * (one wild outlier moves OLS arbitrarily; Theil-Sen shrugs off up
    * to ~29% corruption). Same-timestamp pairs are excluded (slope
    * undefined).
    *
    * Exactness: each slope is one IEEE subtract over inputs divided by
    * an exactly-representable µs gap (< 2⁵³), both correctly rounded;
    * the median is an ELEMENT of that multiset via the q134 lower-
    * median rule — so the output is bit-exact cross-engine with no
    * display rounding. No −0.0 ambiguity: gaps are positive, so a zero
    * numerator yields +0.0 only.
    *
    * Scale: the per-key self-join is quadratic IN THE KEY's activity —
    * right for bounded-activity keys (sessions, devices, SKUs). For
    * keys with thousands of events, pre-aggregate to a coarser grain or
    * sample pairs; the operator shuffles each key once and never forms
    * cross-key pairs.
    */
  def theilSen(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(valueCol).cast("double").as("v"))
    val slopes = e.as("a")
      .join(e.as("b"),
        col("a.k") === col("b.k") && col("a.us") < col("b.us"))
      .select(col("a.k").as("k"),
        ((col("b.v") - col("a.v")) /
          (col("b.us") - col("a.us")).cast("double")).as("s"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        element_at(array_sort(collect_list(col("s"))),
          floor((count(lit(1)) + 1) / 2).cast("int")).as("ts_slope"))
    e.groupBy(col("k")).agg(count(lit(1)).as("n_events"))
      .join(slopes, Seq("k"), "left")
      .select(col("k").as(keyCol), col("n_events"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("ts_slope"))
  }

  /** Decile mobility matrix: users ranked into activity deciles over
    * the EARLY half of the observation window and again over the LATE
    * half (split at the corpus-midpoint µs, integer-div), then the
    * 10×10 transition counts — the rank-mobility / churn-risk report
    * (who moved from the top decile to the bottom). Deciles via
    * ntile(10) on the (Σ value, user) total order — both engines define
    * ntile identically (first n mod 10 buckets take the extra row).
    *
    * Exact: integer midpoint, DECIMAL-exact per-half sums drive only
    * ORDERING (never output), integer decile labels and counts out.
    * Scale: per-(user, half) partial-agg first; the ntile windows rank
    * the AGGREGATED user frame. The two half-partitions each sort all
    * users — at extreme scale swap ntile for the q161 cross-multiplied
    * rank inequalities over range-partitioned sums; semantics pinned
    * here are the ntile ones.
    */
  def decileMobility(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(valueCol).cast("decimal(18,6)").as("v"))
    val mid = e.agg(((min(col("us")) + max(col("us"))) / 2).cast("long")
      .as("__mid"))
    val halves = e.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("__mid"), 0).otherwise(1))
      .groupBy(col("u"), col("half")).agg(sum(col("v")).as("__sum"))
    val w = Window.partitionBy(col("half"))
      .orderBy(col("__sum"), col("u"))
    val ranked = halves.withColumn("decile", ntile(10).over(w))
    ranked.filter(col("half") === 0)
      .select(col("u"), col("decile").as("d_early"))
      .join(ranked.filter(col("half") === 1)
        .select(col("u"), col("decile").as("d_late")), Seq("u"))
      .groupBy(col("d_early"), col("d_late"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** RFM segmentation census: per user, Recency (last activity µs),
    * Frequency (event count) and Monetary (DECIMAL-exact value sum)
    * quintiles — ntile(5) each on a (metric, user) total order — then
    * the population count of every (r,f,m) segment (≤125 rows): the
    * classic CRM segmentation, engine-side. Higher score = better
    * (more recent / more often / more spend).
    *
    * Exact: quintile labels and counts are integers; the DECIMAL sums
    * drive ordering only. The three ntile windows rank the AGGREGATED
    * per-user frame; as with [[decileMobility]], at extreme user counts
    * swap ntile for q161 cross-multiplied ranks over range-partitioned
    * sums — the pinned semantics are ntile's.
    */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = events.filter(col(valueCol).isNotNull)
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .groupBy(col("u"))
      .agg(max(col("us")).as("__rec"), count(lit(1)).as("__freq"),
        sum(col("v")).as("__mon"))
    def score(metric: String): Column =
      ntile(5).over(Window.orderBy(col(metric), col("u")))
    base
      .withColumn("r_score", score("__rec"))
      .withColumn("f_score", score("__freq"))
      .withColumn("m_score", score("__mon"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort LTV triangle: users grouped by first-activity week, their
    * DECIMAL-exact value accumulating by week offset since that first
    * activity — the lifetime-value curve per acquisition cohort (the
    * value-weighted sibling of [[retentionCohorts]]'s presence counts).
    *
    * All-integer time math (µs → epoch day → epoch week by integer
    * div); per-(cohort, offset) partial sums first, the cumulative
    * window runs on that aggregate frame (≤ cohorts × offsets rows);
    * the DECIMAL cum is emitted as one correctly-rounded double (int64-
    * backed scale-6 DECIMAL on both engines — exact conversion; at
    * larger value mass widen the DECIMAL and emit full-scale strings).
    */
  def ltvTriangle(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val dayUs = 86400000000L
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div ${dayUs}L").as("day"),
        col(valueCol).cast("decimal(18,6)").as("v"))
    val wu = Window.partitionBy(col("u"))
    val tagged = e.withColumn("__fday", min(col("day")).over(wu))
      .withColumn("cohort_week", (col("__fday") / 7).cast("long"))
      .withColumn("week_offset",
        ((col("day") - col("__fday")) / 7).cast("long"))
    val cells = tagged
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("v")).as("__val"),
        count_distinct(col("u")).as("n_active_users"))
    val users = tagged.select(col("u"), col("cohort_week")).distinct()
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort_users"))
    val wc = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_value",
        sum(col("__val")).over(wc).cast("decimal(18,6)").cast("double"))
      .join(users, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_cohort_users"),
        col("n_active_users"), col("cum_value"))
  }

  /** CUSUM change-point scan per key: S₀=0, Sᵢ = Sᵢ₋₁ + (vᵢ − µ) over
    * the key's (µs, id)-ordered events (µ = the key's own mean), with
    * the maximum |S| and the event where it FIRST occurs — the classic
    * mean-shift detector (a drifting segment accumulates signed
    * deviation; |S| peaks at the change point).
    *
    * Bit-exact raw doubles: µ is one int64-DECIMAL→double conversion
    * and one divide; the fold is a fixed IEEE op sequence per key
    * (acc + (v − µ)) replayed by the oracle's recursive CTE (the q177
    * pattern); the argmax uses strict > so the earliest peak wins.
    * One shuffle; per-key state is the key's own history (the standing
    * sequential-op caveat).
    */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v"))
    val sorted = e.groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("v").cast("decimal(18,6)")).cast("decimal(18,6)")
          .cast("double") / count(lit(1)).cast("double")).as("__mu"),
        array_sort(collect_list(struct(col("us"), col("id"), col("v"))))
          .as("__ev"))
    // zero's `at` slot carries the caller's id type (same contract as
    // [[ewma]]'s zero — a hard-coded long breaks string event-ids)
    val idSql = events.select(col(idCol)).schema.head.dataType.sql
    val zero = struct(lit(0.0).as("s"), lit(-1.0).as("m"),
      lit(null).cast(idSql).as("at"))
    sorted.select(col("k").as(keyCol), col("n_events"),
      aggregate(col("__ev"), zero, (acc, e) => {
        val s = acc.getField("s") + (e.getField("v") - col("__mu"))
        val better = abs(s) > acc.getField("m")
        struct(s.as("s"),
          when(better, abs(s)).otherwise(acc.getField("m")).as("m"),
          when(better, e.getField("id")).otherwise(acc.getField("at"))
            .as("at"))
      }).as("__r"))
      .select(col(keyCol), col("n_events"),
        col("__r.m").as("cusum_max_abs"), col("__r.at").as("at_event_id"))
  }

  /** Welch two-sample t-test on `valueCol` means between two cohorts
    * (the q176 parity split generalized to a caller predicate): t
    * statistic and Welch-Satterthwaite degrees of freedom, 4dp out.
    * The mean-difference companion to q176's proportion z-test.
    *
    * Determinism WITHOUT a whole-cohort fold (the q346 `ols2` idiom):
    * inputs are 6dp-canonicalized to DECIMAL(18,6), then Σx
    * (DECIMAL(38,6)) and Σx² (DECIMAL(38,12)) are EXACT decimal sums —
    * order-free, partial+final aggregation, merge-safe — and only the
    * final t/df expression is one fixed double op sequence replayed by
    * the oracle. Replaces the round-9 ordered collect_list fold that
    * put half the events table into a single aggregation buffer — this
    * form carries two decimals per partial buffer regardless of cohort
    * size, so it survives a 100 TB cohort.
    */
  def welchTTest(events: DataFrame, valueCol: String,
      isB: Column): DataFrame = {
    val base = events.filter(col(valueCol).isNotNull)
      .select(isB.cast("int").as("g"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("x"))
    val stats = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("decimal(38,6)").as("__dsx"),
        sum((col("x") * col("x")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("__dsxx"))
      .select(col("g"), col("n"), col("__dsx").cast("double").as("sx"),
        col("__dsxx").cast("double").as("sxx"))
      .select(col("g"), col("n"), col("sx"), col("sxx"),
        (col("sx") / col("n").cast("double")).as("m"),
        (((col("sxx") - col("sx") * col("sx") / col("n").cast("double")) /
          (col("n") - 1).cast("double")) / col("n").cast("double"))
          .as("se2"))
    val a = stats.filter(col("g") === 0).select(col("n").as("n_a"),
      col("m").as("m_a"), col("se2").as("__sea"))
    val b = stats.filter(col("g") === 1).select(col("n").as("n_b"),
      col("m").as("m_b"), col("se2").as("__seb"))
    a.crossJoin(b).select(
      col("n_a"), col("n_b"),
      round(col("m_a"), 4).as("mean_a"), round(col("m_b"), 4).as("mean_b"),
      round((col("m_a") - col("m_b")) /
        sqrt(col("__sea") + col("__seb")), 4).as("t_stat"),
      round(((col("__sea") + col("__seb")) * (col("__sea") + col("__seb"))) /
        (col("__sea") * col("__sea") / (col("n_a") - 1).cast("double") +
          col("__seb") * col("__seb") / (col("n_b") - 1).cast("double")), 4)
        .as("welch_df"))
  }

  /** Weekly growth accounting (the "new / retained / resurrected /
    * churned" ledger every subscription dashboard opens with): each
    * active (user, week) is NEW if it is the user's first-ever week,
    * RETAINED if the user was also active the immediately-previous
    * week, RESURRECTED otherwise (active before, then a gap); and
    * churned(w) = active(w−1) − retained(w) — the users who did not
    * come back. Weeks are epoch-µs integer-divided 7-day buckets.
    *
    * All counts are exact integers. Weeks with zero active users emit
    * no row (so churn INTO a fully-dead week is not reported — at week
    * granularity over a live product the frame is dense; documented,
    * and the oracle mirrors the same frame).
    *
    * Scale: distinct (user, week) first (one shuffle, map-side
    * partial), then a per-user lag window bounded by the user's own
    * active weeks, then a tiny per-week aggregate. No corpus-wide
    * windows.
    */
  def growthAccounting(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val uw = events.select(col(userCol).as("u"),
      expr(s"unix_micros($tsCol) div ${weekUs}L").as("w")).distinct()
    val win = Window.partitionBy(col("u")).orderBy(col("w"))
    val states = uw.withColumn("__prev", lag(col("w"), 1).over(win))
      .withColumn("__new", when(col("__prev").isNull, 1L).otherwise(0L))
      .withColumn("__ret",
        when(col("__prev") === col("w") - 1, 1L).otherwise(0L))
      .withColumn("__res",
        when(col("__prev").isNotNull && col("__prev") < col("w") - 1, 1L)
          .otherwise(0L))
      .groupBy(col("w").as("week"))
      .agg(sum(col("__new")).as("n_new"), sum(col("__ret")).as("n_retained"),
        sum(col("__res")).as("n_resurrected"))
    val active = uw.groupBy(col("w")).agg(count(lit(1)).as("n_active"))
    val prevActive = active.select((col("w") + 1).as("week"),
      col("n_active").as("__prev_active"))
    states
      .join(active.withColumnRenamed("w", "week"), Seq("week"))
      .join(prevActive, Seq("week"), "left")
      .select(col("week"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("__prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
  }

  /** Gini coefficient + Lorenz curve of per-user total `valueCol` —
    * the concentration report ("what share of revenue do the bottom
    * k×10% of users hold?"). Returns one row per decile (1..10) with
    * the nearest-lower-rank user position, the cumulative value share
    * at that position, and the (repeated) corpus Gini.
    *
    * Exactness: user totals are DECIMAL(18,6) sums; the rank-weighted
    * sum Σᵢ i·xᵢ is computed on the AGGREGATED distinct-total frame
    * (the q188 AUC stance — never a corpus-wide per-user rank): a
    * total v held by c users whose predecessors number b contributes
    * v·(c·b + c(c+1)/2), all DECIMAL×BIGINT exact; within-tie user
    * order cannot matter because tied users hold the same value.
    * Gini = 2·Σi·xᵢ/(n·Σx) − (n+1)/n with one fixed double op
    * sequence at the end, 4dp. Decile positions use floor(n·d/10);
    * positions before the first user (small n) report share 0.
    *
    * Scale: one shuffle to user totals, one to distinct totals; the
    * ordered window runs over the distinct-total frame (bounded by
    * value resolution, not user count).
    */
  def giniLorenz(events: DataFrame, userCol: String,
      valueCol: String): DataFrame = {
    val spark = events.sparkSession
    val tot = events.filter(col(valueCol).isNotNull)
      .groupBy(col(userCol).as("u"))
      .agg(sum(col(valueCol).cast("decimal(18,6)")).cast("decimal(18,6)")
        .as("tv"))
    val grp = tot.groupBy(col("tv")).agg(count(lit(1)).as("c"))
    val wo = Window.orderBy(col("tv"))
    val cum = grp
      .withColumn("__cu", sum(col("c")).over(wo))
      .withColumn("__cv",
        sum(col("tv") * col("c")).over(wo).cast("decimal(38,6)"))
    val stats = cum.agg(
      sum(col("c")).as("n"),
      sum(col("tv") * col("c")).cast("decimal(38,6)").as("s"),
      sum(col("tv") * (col("c") * (col("__cu") - col("c")) +
        expr("(c * (c + 1L)) div 2L"))).cast("decimal(38,6)").as("s1"))
    val deciles = spark.range(1, 11).toDF("decile")
    val targets = deciles.crossJoin(broadcast(stats))
      .withColumn("__t", expr("(n * decile) div 10L"))
    val gini = round(
      lit(2.0) * col("s1").cast("double") /
        (col("n").cast("double") * col("s").cast("double")) -
        (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 4)
    targets
      .join(cum, col("__cu") - col("c") < col("__t") &&
        col("__t") <= col("__cu"), "left")
      .select(col("decile"), col("__t").as("user_rank"),
        coalesce(round(
          (col("__cv") - col("tv") * (col("__cu") - col("__t")))
            .cast("decimal(38,6)").cast("double") / col("s").cast("double"),
          4), lit(0.0)).as("cum_value_share"),
        gini.as("gini"))
  }

  /** Per-key lag-k autocorrelation (ACF) of `valueCol` over the key's
    * (µs, id)-ordered series, k = 1..`maxLag` — the "is this metric
    * self-correlated / seasonal?" screen. acf_k = Σₜ(xₜ−µ)(xₜ₊ₖ−µ) /
    * Σₜ(xₜ−µ)², with µ the key's own exact-DECIMAL mean.
    *
    * Bit-exact raw doubles before the 4dp display round: every Σ is a
    * fixed left-to-right IEEE fold over the sorted series (the q211
    * central-moment stance), replayed by the oracle with 1-based list
    * indexing on both engines. Keys need n > maxLag and non-zero
    * variance. One shuffle; per-key state is the key's own history
    * (the standing sequential-op caveat — see [[ewmaFinal]]'s skew
    * contract, stress-pinned by q350).
    */
  def autocorrelation(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v"))
    val sorted = e.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        (sum(col("v").cast("decimal(18,6)")).cast("decimal(18,6)")
          .cast("double") / count(lit(1)).cast("double")).as("__mu"),
        transform(
          array_sort(collect_list(struct(col("us"), col("id"), col("v")))),
          s => s.getField("v")).as("__xs"))
    def num(lagK: Int): Column = aggregate(
      transform(sequence(lit(1), (col("n") - lagK).cast("int")),
        i => (element_at(col("__xs"), i) - col("__mu")) *
          (element_at(col("__xs"), i + lagK) - col("__mu"))),
      lit(0.0), (acc, v) => acc + v)
    val m2 = aggregate(
      transform(col("__xs"), x => (x - col("__mu")) * (x - col("__mu"))),
      lit(0.0), (acc, v) => acc + v)
    val outCols = Seq(col("k").as(keyCol), col("n").as("n_events")) ++
      (1 to maxLag).map(lagK =>
        round(num(lagK) / col("__m2"), 4).as(s"acf$lagK"))
    sorted.filter(col("n") > maxLag)
      .withColumn("__m2", m2).filter(col("__m2") > 0.0)
      .select(outCols: _*)
  }

  /** Corpus D1/D7/D28 retention summary — the growth-KPI one-liner
    * (distinct from [[retentionCohorts]]' full triangle): for each
    * user, did ANY activity land within k days after their first day,
    * for each horizon k. One row out; all counts exact integers, rates
    * single divides, 4dp.
    */
  def retentionRates(events: DataFrame, userCol: String, tsCol: String,
      horizons: Seq[Int] = Seq(1, 7, 28)): DataFrame = {
    require(horizons.nonEmpty, "need at least one horizon")
    val dayUs = 86400000000L
    val ud = events.select(col(userCol).as("u"),
      expr(s"unix_micros($tsCol) div ${dayUs}L").as("d")).distinct()
    val first = ud.groupBy(col("u")).agg(min(col("d")).as("f"))
    val ret = ud.join(first, Seq("u"))
      .filter(col("d") > col("f"))
      .groupBy(col("u")).agg(min(col("d") - col("f")).as("__gap"))
    val joined = first.join(ret, Seq("u"), "left")
    val aggs = Seq(count(lit(1)).as("n_users")) ++
      horizons.flatMap(k => Seq(
        sum(when(col("__gap") <= k, 1L).otherwise(0L)).as(s"n_d$k")))
    val base = joined.agg(aggs.head, aggs.tail: _*)
    val outCols = Seq(col("n_users")) ++ horizons.flatMap(k => Seq(
      col(s"n_d$k"),
      round(col(s"n_d$k").cast("double") / col("n_users").cast("double"),
        4).as(s"rate_d$k")))
    base.select(outCols: _*)
  }

  /** Funnel A/B comparison: the [[funnel]] strict-after chain computed
    * per cohort (caller predicate — the q176 convention), with a
    * two-proportion z-test on each step's conversion-from-step-1
    * between the cohorts (pooled p̂, the q176 formula per step).
    * Steps ≥ 2 get a z; step 1 is the denominator row.
    *
    * Counts exact; conversions and z are fixed double sequences, 4dp.
    *
    * Cohort assignment is reduced to ONE flag per user — max(isB) over
    * the user's events — so an `isB` expression that is not constant
    * per user (e.g. event-level conditions) still assigns each user to
    * exactly one cohort (B wins on conflict) instead of silently
    * double-counting the user's steps in both columns.
    */
  def funnelAbTest(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], isB: Column): DataFrame = {
    require(steps.length >= 2, "funnel A/B needs at least two steps")
    val us = unix_micros(col(tsCol))
    val base = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      us.as("us"), isB.cast("int").as("g"))
    val cohort = base.groupBy(col("u")).agg(max(col("g")).as("g"))
    var prev = base.filter(col("t") === steps.head)
      .groupBy(col("u")).agg(min(col("us")).as("ts1"))
    val frames = Seq(prev.select(col("u"), lit(1).as("step"))) ++
      steps.zipWithIndex.drop(1).map { case (st, i) =>
        val cur = base.filter(col("t") === st)
          .join(prev, Seq("u"))
          .filter(col("us") > col(s"ts$i"))
          .groupBy(col("u"), col(s"ts$i"))
          .agg(min(col("us")).as(s"ts${i + 1}"))
        val out = cur.select(col("u"), lit(i + 1).as("step"))
        prev = cur.select(col("u"), col(s"ts${i + 1}"))
        out
      }
    val reached = frames.reduce(_ unionAll _).join(cohort, Seq("u"))
    val perStep = reached.groupBy(col("step"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_b"))
    val step1 = perStep.filter(col("step") === 1)
      .select(col("n_a").as("__t_a"), col("n_b").as("__t_b"))
    val pa = col("n_a").cast("double") / col("__t_a").cast("double")
    val pb = col("n_b").cast("double") / col("__t_b").cast("double")
    val pPool = (col("n_a") + col("n_b")).cast("double") /
      (col("__t_a") + col("__t_b")).cast("double")
    val z = (pa - pb) / sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("__t_a").cast("double") +
        lit(1.0) / col("__t_b").cast("double")))
    perStep.crossJoin(broadcast(step1))
      .select(col("step"), col("n_a"), col("n_b"),
        round(pa, 4).as("conv_a"), round(pb, 4).as("conv_b"),
        when(col("step") === 1, lit(null).cast("double"))
          .otherwise(round(z, 4)).as("z_stat"))
  }

  /** Order-of-magnitude histogram of inter-event gaps: each
    * consecutive-gap (whole seconds) lands in a decimal-digit bucket
    * (1-9s → 1, 10-99s → 2, …; same-second gaps → 0) — the dwell-time
    * distribution at a glance with ZERO FP anywhere (the bucket is the
    * string length of the integer — no log10 call exists to disagree
    * across engines).
    */
  def gapMagnitudeHistogram(events: DataFrame, keyCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val e = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("us"), col(idCol).as("id"))
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("id"))
    e.withColumn("__nxt", lead(col("us"), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .select(expr("(__nxt - us) div 1000000L").as("__gap"))
      .withColumn("magnitude",
        when(col("__gap") <= 0, lit(0))
          .otherwise(length(col("__gap").cast("string"))))
      .groupBy(col("magnitude"))
      .agg(count(lit(1)).as("n_gaps"), min(col("__gap")).as("min_gap_s"),
        max(col("__gap")).as("max_gap_s"))
  }

  /** Burst detection over the hourly event-count series: hours whose
    * count exceeds `factor`× the corpus hourly mean are flagged, and
    * CONSECUTIVE flagged hours merge into one burst interval (the
    * gaps-and-islands move on the flagged hour frame) — the "did
    * something spike, when, and how hard?" report. Returns one row per
    * burst: start/end hour, length, peak count, total events.
    *
    * Counts are exact integers; the mean is one divide and the flag
    * comparison cross-multiplies (count·n_hours > factor·total) in
    * BIGINT so no FP threshold exists at all. The hour frame is
    * calendar-bounded (q228 stance).
    */
  def burstIntervals(events: DataFrame, tsCol: String,
      factor: Long = 3L): DataFrame = {
    val hourUs = 3600000000L
    val hours = events
      .select(expr(s"unix_micros($tsCol) div ${hourUs}L").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
    val stats = hours.agg(count(lit(1)).as("__nh"), sum(col("c")).as("__tot"))
    val flagged = hours.crossJoin(broadcast(stats))
      .filter(col("c") * col("__nh") > lit(factor) * col("__tot"))
    val w = Window.orderBy(col("h"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("__p", lag(col("h"), 1).over(w))
      .withColumn("__new",
        when(col("__p").isNull || col("h") - col("__p") > 1, 1L)
          .otherwise(0L))
      .withColumn("__b", sum(col("__new")).over(wRun))
      .groupBy(col("__b"))
      .agg(min(col("h")).as("start_hour"), max(col("h")).as("end_hour"),
        count(lit(1)).as("n_hours"), max(col("c")).as("peak_count"),
        sum(col("c")).as("total_events"))
      .select(col("start_hour"), col("end_hour"), col("n_hours"),
        col("peak_count"), col("total_events"))
  }

  /** Lead-lag cross-correlation between two event types' hourly count
    * series at lags −`maxLag`..+`maxLag` — "do purchases follow views,
    * and by how many hours?". Both series live on the same dense hour
    * spine (missing hours count 0 — a sparse join would silently
    * correlate only co-active hours); Pearson per lag over the
    * calendar-bounded spine with hour-ordered folds (the q215 ACF
    * recipe, two-series).
    */
  def crossCorrelation(events: DataFrame, tsCol: String, typeCol: String,
      typeA: String, typeB: String, maxLag: Int = 3): DataFrame = {
    val hourUs = 3600000000L
    val e = events.filter(col(typeCol).isin(typeA, typeB))
      .select(expr(s"unix_micros($tsCol) div ${hourUs}L").as("h"),
        col(typeCol).as("t"))
    val span = e.agg(min(col("h")).as("__h0"), max(col("h")).as("__h1"))
    val spine = span.select(
      explode(sequence(col("__h0"), col("__h1"))).as("h"))
    val counts = e.groupBy(col("h"), col("t")).agg(count(lit(1)).as("c"))
    val series = spine
      .join(counts.filter(col("t") === typeA)
        .select(col("h"), col("c").as("__ca")), Seq("h"), "left")
      .join(counts.filter(col("t") === typeB)
        .select(col("h"), col("c").as("__cb")), Seq("h"), "left")
      .select(col("h"), coalesce(col("__ca"), lit(0L)).cast("double").as("a"),
        coalesce(col("__cb"), lit(0L)).cast("double").as("b"))
    val packed = series.agg(count(lit(1)).as("n"),
      transform(array_sort(collect_list(struct(col("h"), col("a"), col("b")))),
        s => struct(s.getField("a").as("a"), s.getField("b").as("b")))
        .as("__xs"))
    def sumOf(f: Column => Column): Column =
      aggregate(col("__xs"), lit(0.0), (acc, v) => acc + f(v))
    val withMeans = packed.select(col("n"), col("__xs"),
      (sumOf(_.getField("a")) / col("n").cast("double")).as("__ma"),
      (sumOf(_.getField("b")) / col("n").cast("double")).as("__mb"))
    val lags = (-maxLag to maxLag).map { lagK =>
      val (aOff, bOff) = if (lagK >= 0) (lit(0), lit(lagK))
        else (lit(-lagK), lit(0))
      val len = (col("n") - math.abs(lagK)).cast("int")
      val num = when(col("n") > math.abs(lagK), aggregate(
        transform(sequence(lit(1), len), i =>
          (element_at(col("__xs"), i + aOff).getField("a") - col("__ma")) *
            (element_at(col("__xs"), i + bOff).getField("b") - col("__mb"))),
        lit(0.0), (acc, v) => acc + v)).otherwise(lit(0.0))
      val da = aggregate(
        transform(col("__xs"), v =>
          (v.getField("a") - col("__ma")) * (v.getField("a") - col("__ma"))),
        lit(0.0), (acc, v) => acc + v)
      val db = aggregate(
        transform(col("__xs"), v =>
          (v.getField("b") - col("__mb")) * (v.getField("b") - col("__mb"))),
        lit(0.0), (acc, v) => acc + v)
      struct(lit(lagK).as("lag_hours"),
        round(num / sqrt(da * db), 4).as("xcorr"))
    }
    withMeans
      .select(col("n").as("n_hours"), explode(array(lags: _*)).as("r"))
      .select(col("n_hours"), col("r.lag_hours").as("lag_hours"),
        col("r.xcorr").as("xcorr"))
  }

  /** Per-user churn-model feature matrix — the feature-engineering
    * pass an ML pipeline runs before training: activity volume,
    * tenure, exact-DECIMAL monetary stats, recency, and the
    * inter-event cadence, one row per user, every column exact or a
    * single divide (4dp).
    */
  def userFeatures(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val dayUs = 86400000000L
    val e = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"),
      col(valueCol).cast("decimal(18,6)").as("v"))
    val ref = e.agg(max(col("us")).as("__ref"))
    e.crossJoin(broadcast(ref))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"(max(us) - min(us)) div ${dayUs}L").as("tenure_days"),
        expr(s"(max(__ref) - max(us)) div ${dayUs}L").as("recency_days"),
        coalesce(sum(col("v")), lit(0).cast("decimal(18,6)"))
          .cast("decimal(18,6)").cast("double").as("__total"),
        count(col("v")).as("__nv"))
      .select(col("u").as(userCol), col("n_events"),
        col("tenure_days"), col("recency_days"),
        round(col("__total"), 4).as("total_value"),
        round(when(col("__nv") > 0,
          col("__total") / col("__nv").cast("double")).otherwise(lit(0.0)),
          4).as("mean_value"),
        round(when(col("n_events") > 1,
          col("tenure_days").cast("double") /
            (col("n_events") - 1).cast("double")).otherwise(lit(0.0)), 4)
          .as("days_per_event"))
  }

  /** Mann-Kendall trend test per key — the nonparametric "is there a
    * monotonic trend?" companion to [[theilSen]]'s slope estimate:
    * S = Σ_{i<j} sign(xⱼ − xᵢ) over the (µs, id) total order, variance
    * with the tie correction Var(S) = [n(n−1)(2n+5) − Σₜ t(t−1)(2t+5)]
    * / 18, and the continuity-corrected z = (S∓1)/√Var.
    *
    * S and both variance numerators are EXACT integers (sign sums and
    * tie-group polynomials); z is a fixed double sequence over them
    * (√ is correctly rounded — no libm gap), 4dp. Pairwise per key —
    * the q201 bounded-activity caveat.
    */
  def mannKendall(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v"))
    val s = e.as("a")
      .join(e.as("b"), col("a.k") === col("b.k") &&
        (col("a.us") < col("b.us") ||
          (col("a.us") === col("b.us") && col("a.id") < col("b.id"))))
      .select(col("a.k").as("k"), signum(col("b.v") - col("a.v")).as("sg"))
      .groupBy(col("k")).agg(sum(col("sg")).cast("long").as("s_stat"))
    val ties = e.groupBy(col("k"), col("v")).agg(count(lit(1)).as("t"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("__nv"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .as("__tt"),
        sum(col("t")).as("n_events"))
    ties.join(s, Seq("k"))
      .withColumn("__varnum",
        col("n_events") * (col("n_events") - 1) *
          (lit(2L) * col("n_events") + 5) - col("__tt"))
      .filter(col("__varnum") > 0)
      .select(col("k").as(keyCol), col("n_events"), col("s_stat"),
        round(
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
            .otherwise(lit(0.0)) /
            sqrt(col("__varnum").cast("double") / lit(18.0)), 4)
          .as("mk_z"))
  }

  /** CUPED variance reduction (Deng et al. 2013): the experiment
    * metric Y (second-half activity) adjusted by the pre-period
    * covariate X (first-half activity), Y′ = Y − θ(X − µX) with
    * θ = cov(X,Y)/var(X) pooled across BOTH cohorts (the unbiasedness
    * requirement), cohorts by user parity (the q176 convention).
    * Reports per-cohort raw and adjusted means plus the pooled
    * var(Y′)/var(Y) — the fraction of metric variance the covariate
    * removed (the whole point of CUPED: tighter A/B confidence at the
    * same sample size).
    *
    * X and Y are exact DECIMAL per-user sums KEPT as decimals: every
    * pooled and per-cohort Σ (Σx, Σy, Σxy, Σx², Σy², Σy′, Σy′²) is an
    * EXACT DECIMAL sum — order-free, partial+final aggregation (the
    * q346 idiom; round-10 migration of the user-ordered collect_list
    * folds that packed the whole user frame into one buffer). Y′ is a
    * per-user double (θ, µX are fixed double op sequences on the exact
    * sums, identical cross-engine) re-canonicalized to 6dp DECIMAL
    * before the variance sums; θ, the ratios, and the means are fixed
    * double op sequences, 4dp out.
    */
  def cuped(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(valueCol).cast("decimal(18,6)").as("v"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2L").as("__mid"))
    val xy = e.crossJoin(broadcast(mid))
      .groupBy(col("u"))
      .agg(
        sum(when(col("us") <= col("__mid"), col("v"))
          .otherwise(lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("x"),
        sum(when(col("us") > col("__mid"), col("v"))
          .otherwise(lit(0).cast("decimal(18,6)")))
          .cast("decimal(18,6)").as("y"))
    def dsum(value: Column): Column =
      sum(value).cast("decimal(38,6)").cast("double")
    def dsum2(value: Column): Column =
      sum(value.cast("decimal(38,12)")).cast("decimal(38,12)")
        .cast("double")
    val pooled = xy.agg(count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum2(col("x") * col("y")).as("sxy"),
      dsum2(col("x") * col("x")).as("sxx"))
    val withTheta = pooled.select(col("n"), col("sx"), col("sy"),
      ((col("sxy") - col("sx") * col("sy") / col("n").cast("double")) /
        (col("sxx") - col("sx") * col("sx") / col("n").cast("double")))
        .as("__theta"),
      (col("sx") / col("n").cast("double")).as("__mux"))
    val adj = xy.crossJoin(broadcast(withTheta))
      .withColumn("g", (col("u") % 2).cast("int"))
      .withColumn("yadj",
        round(col("y").cast("double") - col("__theta") *
          (col("x").cast("double") - col("__mux")), 6)
          .cast("decimal(18,6)"))
    val pooledVar = adj.agg(
      dsum2(col("y") * col("y")).as("syy"),
      dsum(col("yadj")).as("sa"),
      dsum2(col("yadj") * col("yadj")).as("saa"),
      max(col("n")).as("n"), max(col("sy")).as("sy"),
      max(col("__theta")).as("theta"))
    val varRatio = pooledVar.select(col("theta"),
      (((col("saa") - col("sa") * col("sa") / col("n").cast("double"))) /
        (col("syy") - col("sy") * col("sy") / col("n").cast("double")))
        .as("var_ratio"))
    adj.groupBy(col("g").as("cohort"))
      .agg(count(lit(1)).as("n_users"),
        dsum(col("y")).as("__sy"),
        dsum(col("yadj")).as("__sa"))
      .crossJoin(broadcast(varRatio))
      .select(col("cohort"), col("n_users"),
        round(col("__sy") / col("n_users").cast("double"), 4)
          .as("mean_y"),
        round(col("__sa") / col("n_users").cast("double"), 4)
          .as("mean_y_adj"),
        round(col("theta"), 4).as("theta"),
        round(col("var_ratio"), 4).as("var_ratio"))
  }

  /** Debounce census: an event is SUPPRESSED when the same (key, type)
    * fired within `toleranceUs` before it — the duplicate-click /
    * sensor-chatter cleanup every event pipeline runs, reported per
    * type as kept/suppressed counts and a 4dp suppression rate.
    * Note the chain semantics: each event debounces against the
    * previous RAW event, not the previous kept one (a burst longer
    * than the tolerance keeps only its first event if spaced tightly —
    * the standard trailing-edge debounce).
    *
    * Exact integers; per-(key, type) lag window bounded by the key's
    * own activity; one tiny per-type aggregate.
    */
  def debounceCensus(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, toleranceUs: Long): DataFrame = {
    val e = events.select(col(keyCol).as("k"), col(typeCol).as("t"),
      unix_micros(col(tsCol)).as("us"), col(idCol).as("id"))
    val w = Window.partitionBy(col("k"), col("t"))
      .orderBy(col("us"), col("id"))
    e.withColumn("__prev", lag(col("us"), 1).over(w))
      .withColumn("__kept",
        when(col("__prev").isNull ||
          col("us") - col("__prev") > toleranceUs, 1L).otherwise(0L))
      .groupBy(col("t").as(typeCol))
      .agg(count(lit(1)).as("n_total"), sum(col("__kept")).as("n_kept"),
        (count(lit(1)) - sum(col("__kept"))).as("n_suppressed"))
      .withColumn("suppression_rate",
        round((col("n_total") - col("n_kept")).cast("double") /
          col("n_total").cast("double"), 4))
  }

  /** Position-based (U-shaped) multi-touch attribution: each purchase
    * distributes one conversion across its preceding touch path —
    * 40% to the first touch, 40% to the last, 20% split over the
    * middles (n=2 → 50/50, n=1 → 100%, n=0 → "direct") — the
    * fairer-than-last-touch model q179 upgrades to.
    *
    * Credits are EXACT integer fractions (scaled ×5(n−2): first/last
    * 2(n−2), middles 1 — denominators never touch FP); each touch's
    * share is one exact-operand divide (bit-identical cross-engine),
    * then snapped to DECIMAL(28,18) — sub-5e-19 per-term error — so
    * the per-channel Σ is an EXACT decimal sum: order-free,
    * partial+final aggregation (round-10 migration of the per-channel
    * ordered fold that held every touch row in one buffer), 4dp out.
    *
    * Scale: the touch join is per-user purchases × prior events — the
    * q201 bounded-activity caveat; per-channel aggregation state is
    * one decimal, never the touch list.
    */
  def positionAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String,
      conversionType: String): DataFrame = {
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(tsCol)).as("us"), col(idCol).as("id"))
    val purchases = ev.filter(col("t") === conversionType)
      .select(col("u"), col("id").as("pid"), col("us").as("pt"))
    val touches = ev.filter(col("t") =!= conversionType)
      .select(col("u"), col("t").as("ch"), col("us").as("tus"),
        col("id").as("tid"))
    val joined = purchases.join(touches, Seq("u"))
      .filter(col("tus") < col("pt"))
    val wP = Window.partitionBy(col("pid")).orderBy(col("tus"), col("tid"))
    val wN = Window.partitionBy(col("pid"))
    val credited = joined
      .withColumn("pos", row_number().over(wP))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("__c",
        when(col("n") <= 2, lit(1L))
          .when(col("pos") === 1 || col("pos") === col("n"),
            lit(2L) * (col("n") - 2))
          .otherwise(lit(1L)))
      .withColumn("__tot",
        when(col("n") === 1, lit(1L)).when(col("n") === 2, lit(2L))
          .otherwise(lit(5L) * (col("n") - 2)))
      .withColumn("__frac",
        col("__c").cast("double") / col("__tot").cast("double"))
    val touched = credited.groupBy(col("ch"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__frac").cast("decimal(28,18)")).cast("decimal(38,18)")
          .cast("double").as("__attr"))
    val direct = purchases.join(
        credited.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n_touches"))
      .select(lit("direct").as("ch"), col("n_touches"),
        col("n_touches").cast("double").as("__attr"))
      .filter(col("n_touches") > 0)
    touched.unionAll(direct)
      .select(col("ch").as("channel"), col("n_touches"),
        round(col("__attr"), 4).as("attributed_conversions"))
  }

  /** The 21 exact half-life weights 1/2^k, k = 0..20, as scale-20
    * decimals (dyadic rationals terminate in decimal, so every weight
    * is EXACT — shared with the oracle as plain-string literals).
    */
  val halfLifeWeights: IndexedSeq[java.math.BigDecimal] =
    (0 to 20).map(k => java.math.BigDecimal.ONE
      .divide(new java.math.BigDecimal(2).pow(k)).setScale(20))

  /** Recency-decayed activity score per key with a DYADIC weekly
    * half-life: weight 2^(−age_weeks), age capped at 20 weeks
    * (2^−20 ≈ 1e−6 — the tail is noise). Because dyadic rationals
    * terminate in decimal, the weights are EXACT DECIMAL(21,20)
    * literals and both sums are pure decimal arithmetic — zero FP in
    * the whole operator (no libm pow, no fold order, no round
    * boundary), emitted as full-scale strings (the q01 stance: decimal
    * rescale/int128→double behavior differs between engines, the
    * decimal itself doesn't).
    */
  def halfLifeScore(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("decimal(12,2)").as("v"))
    val ref = e.agg(max(col("us")).as("__ref"))
    val wArr = array(halfLifeWeights.map(w => lit(w)): _*)
    val aged = e.crossJoin(broadcast(ref))
      .withColumn("__k",
        least(lit(20L), expr(s"(__ref - us) div ${weekUs}L")))
      .withColumn("__w", element_at(wArr, (col("__k") + 1).cast("int")))
    aged.groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__w")).cast("decimal(38,20)").cast("string")
          .as("decayed_count"),
        sum(col("v") * col("__w")).cast("decimal(38,22)").cast("string")
          .as("decayed_value"))
      .withColumnRenamed("k", keyCol)
  }

  /** Top session event-type paths: sessions from the q47 gap rule, each
    * rendered as its first `maxSteps` event types joined with "→"
    * (capped so a pathological session can't build an unbounded
    * string), counted exactly, top-k by (sessions DESC, path).
    */
  def sessionPaths(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, gapUs: Long, maxSteps: Int = 8,
      k: Int = 10): DataFrame = {
    val e = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(tsCol)).as("us"), col(idCol).as("id"))
    val sessions = Sessionize.assignSessions(e, "u", "us", gapUs)
    val paths = sessions.groupBy(col("u"), col("session_id"))
      .agg(concat_ws("→",
        slice(transform(
          array_sort(collect_list(struct(col("us"), col("id"), col("t")))),
          s => s.getField("t")), 1, maxSteps)).as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Step-latency distribution of an ordered funnel: for each step
    * i ≥ 2 of the [[funnel]] chain (earliest step-1 event, then the
    * earliest step-i event STRICTLY after the step-(i−1) completion),
    * the exact nearest-rank p50/p90/p99 of the per-user latency in µs —
    * the "conversion takes HOW long?" report the count-only funnel
    * can't answer. Latencies are exact integer µs; percentiles use the
    * q161 integer nearest-rank pick (rank = ⌈p·n/100⌉ as
    * (p·n+99) div 100), so no interpolation FP exists at all.
    */
  def funnelLatencies(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.length >= 2, "funnel latencies need at least two steps")
    val us = unix_micros(col(tsCol))
    val base = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      us.as("us"))
    var prev = base.filter(col("t") === steps.head)
      .groupBy(col("u")).agg(min(col("us")).as("ts1"))
    val lats = steps.zipWithIndex.drop(1).map { case (st, i) =>
      val cur = base.filter(col("t") === st)
        .join(prev, Seq("u"))
        .filter(col("us") > col(s"ts$i"))
        .groupBy(col("u"), col(s"ts$i")).agg(min(col("us")).as(s"ts${i + 1}"))
      val lat = cur.select(lit(i + 1).as("step"),
        (col(s"ts${i + 1}") - col(s"ts$i")).as("latency_us"))
      prev = cur.select(col("u"), col(s"ts${i + 1}"))
      lat
    }
    val all = lats.reduce(_ unionAll _)
    Outliers.groupQuantiles(all, "step", "latency_us", Seq(50, 90, 99))
  }

  /** DAU/MAU stickiness per active day: distinct daily actives over
    * distinct 28-day-window actives — the engagement ratio product
    * dashboards track. MAU avoids any 28× explode or window-distinct:
    * per user, consecutive active days ≤ 27 apart merge into coverage
    * islands [first, last+27] (a user is "in MAU at d" iff some active
    * day lies in [d−27, d]); islands become +1/−1 boundary deltas whose
    * running sum over the day frame IS the MAU — all exact integers.
    *
    * Scale: distinct (user, day) shuffle with map-side partial, a
    * per-user lag window (bounded by the user's active days), then a
    * calendar-bounded day frame for the global cumulative — corpus
    * rows never enter a global window.
    */
  def dauMauStickiness(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val dayUs = 86400000000L
    // r13 (guide §2.4 / §1.2): the distinct (user, day) frame feeds
    // FOUR plan branches (island window, both span-delta arms, the day
    // spine, the DAU count) — unstaged, the events scan + distinct ran
    // 4× (plan showed 4 parquet scans). One lazy localCheckpoint stores
    // the narrow (u, d) rows once. The two span-delta union arms also
    // collapse into ONE explode over the span frame, so the window +
    // island aggregation runs once instead of twice — same delta
    // multiset, same running sum.
    val ud = events.select(col(userCol).as("u"),
      expr(s"unix_micros($tsCol) div ${dayUs}L").as("d")).distinct()
      .transform(Stage.scoped(eager = false))
    val w = Window.partitionBy(col("u")).orderBy(col("d"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isl = ud.withColumn("__p", lag(col("d"), 1).over(w))
      .withColumn("__new",
        when(col("__p").isNull || col("d") - col("__p") > 27, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
    val spans = isl.groupBy(col("u"), col("__isl"))
      .agg(min(col("d")).as("__s"), (max(col("d")) + 27).as("__e"))
    val deltas = spans.select(explode(array(
        struct(col("__s").as("d"), lit(1L).as("delta")),
        struct((col("__e") + 1).as("d"), lit(-1L).as("delta")))).as("sd"))
      .select(col("sd.d").as("d"), col("sd.delta").as("delta"))
      .unionAll(ud.select(col("d")).distinct()
        .select(col("d"), lit(0L).as("delta")))
    val wDay = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mau = deltas.groupBy(col("d")).agg(sum(col("delta")).as("__dl"))
      .withColumn("mau", sum(col("__dl")).over(wDay))
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    dau.join(mau.select(col("d"), col("mau")), Seq("d"))
      .select(col("d").as("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 4)
          .as("stickiness"))
  }

  /** Holt linear (double) exponential smoothing per key — the q156
    * EWMA's trend-aware sibling: level lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    * trend bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, initialized l₁ = x₁, b₁ = 0.
    * Emits each key's final level, trend, and one-step forecast l+b.
    *
    * Bit-exact raw doubles: the recursion is one fixed IEEE op
    * sequence over the (µs, id)-ordered series, replayed by the
    * oracle's recursive CTE with the SAME shortest-repr α/β/(1−α)/(1−β)
    * literals (the defaults 0.5/0.25 make every blend dyadic-exact);
    * 4dp display round. One shuffle; per-key state is the key's own
    * history (the standing sequential-op caveat — see [[ewmaFinal]]'s skew
    * contract, stress-pinned by q350).
    */
  def holtLinear(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alpha: Double = 0.5,
      beta: Double = 0.25): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v"))
    val sorted = e.groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("us"), col("id"), col("v"))))
          .as("__ev"))
    val zero = struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(0).as("i"))
    val folded = aggregate(col("__ev"), zero, (acc, ev) => {
      val x = ev.getField("v")
      val lPrev = acc.getField("l")
      val bPrev = acc.getField("b")
      val first = acc.getField("i") === 0
      val lNew = when(first, x)
        .otherwise(lit(alpha) * x + lit(1 - alpha) * (lPrev + bPrev))
      val bNew = when(first, lit(0.0))
        .otherwise(lit(beta) * (lNew - lPrev) + lit(1 - beta) * bPrev)
      struct(lNew.as("l"), bNew.as("b"), (acc.getField("i") + 1).as("i"))
    })
    sorted.select(col("k").as(keyCol), col("n_events"), folded.as("__r"))
      .select(col(keyCol), col("n_events"),
        round(col("__r.l"), 4).as("level"),
        round(col("__r.b"), 4).as("trend"),
        round(col("__r.l") + col("__r.b"), 4).as("forecast"))
  }

  /** Time-weighted average of `valueCol` per key (TWAP): each value
    * holds from its event until the next one, so the average weights
    * every observation by its holding interval — the standard answer
    * to irregular sampling that a plain mean gets wrong.
    *
    * FULLY exact before the display round: values are DECIMAL(18,6),
    * holding intervals are integer µs, so Σ v·Δt is an exact
    * DECIMAL(38,6) sum (order-free — no ordered fold needed) divided
    * once by the integer span. Keys need ≥ 2 events spanning > 0 µs.
    * One shuffle on the key after a per-key lead window.
    */
  def twap(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val e = events.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"), col(valueCol).cast("decimal(18,6)").as("v"))
    val w = Window.partitionBy(col("k")).orderBy(col("us"), col("id"))
    val seg = e.withColumn("__nxt", lead(col("us"), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .select(col("k"),
        (col("v") * (col("__nxt") - col("us"))).cast("decimal(38,6)")
          .as("__wv"),
        (col("__nxt") - col("us")).as("__dt"))
    seg.groupBy(col("k"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("__wv")).cast("decimal(38,6)").as("__swv"),
        sum(col("__dt")).as("__span"))
      .filter(col("__span") > 0)
      .select(col("k").as(keyCol), col("n_segments"),
        col("__span").as("span_us"),
        round(col("__swv").cast("double") / col("__span").cast("double"), 4)
          .as("twap"))
  }

  /** Kaplan-Meier survival over inter-event waiting times: each
    * consecutive (µs, id)-ordered event pair contributes a COMPLETE
    * duration (whole days, integer-divided), and each user's last
    * event contributes a CENSORED duration up to the global max event
    * time (still at risk when observation ended). One row per distinct
    * duration d: the risk set n(d) (observations with duration ≥ d),
    * event/censor counts, and the KM estimate
    * S(d) = Π_{d'≤d} (1 − events(d')/n(d')) — censoring shrinks the
    * risk set but never the product.
    *
    * Exactness: counts are integers; the product is ONE fixed
    * left-to-right fold over the day-granularity duration frame
    * (bounded by the calendar span, not data volume), replayed by the
    * oracle's recursive CTE carrying (consumed, product) — identical
    * IEEE op sequence, 4dp display round.
    *
    * Scale: per-user lead window (bounded per user), a tiny
    * duration-level aggregate, then a single-group pack of the
    * calendar-bounded frame. No corpus-size state anywhere.
    */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val dayUs = 86400000000L
    val e = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"), col(idCol).as("id"))
    val w = Window.partitionBy(col("u")).orderBy(col("us"), col("id"))
    val gaps = e.withColumn("__next", lead(col("us"), 1).over(w))
    val maxUs = e.agg(max(col("us")).as("__maxus"))
    val durs = gaps.crossJoin(broadcast(maxUs))
      .select(
        expr(s"CASE WHEN __next IS NOT NULL THEN (__next - us) div ${dayUs}L" +
          s" ELSE (__maxus - us) div ${dayUs}L END").as("d"),
        col("__next").isNull.cast("int").as("cens"))
    val byDur = durs.groupBy(col("d"))
      .agg(sum(lit(1) - col("cens")).cast("long").as("ev"),
        sum(col("cens")).cast("long").as("cen"))
    val packed = byDur.agg(
      array_sort(collect_list(struct(col("d"), col("ev"), col("cen"))))
        .as("__rows"),
      sum(col("ev") + col("cen")).as("__tot"))
    val zero = struct(lit(0L).as("c"), lit(1.0).as("p"))
    packed
      .select(col("__tot"), col("__rows"),
        posexplode(col("__rows")).as(Seq("__i", "__r")))
      .withColumn("__before",
        aggregate(slice(col("__rows"), lit(1), col("__i")), lit(0L),
          (acc, r) => acc + r.getField("ev") + r.getField("cen")))
      .withColumn("__km",
        aggregate(slice(col("__rows"), lit(1), col("__i") + 1), zero,
          (acc, r) => {
            val risk = (col("__tot") - acc.getField("c")).cast("double")
            struct(
              (acc.getField("c") + r.getField("ev") + r.getField("cen"))
                .as("c"),
              (acc.getField("p") *
                (lit(1.0) - r.getField("ev").cast("double") / risk)).as("p"))
          }))
      .select(col("__r.d").as("duration_days"),
        (col("__tot") - col("__before")).as("n_at_risk"),
        col("__r.ev").as("n_events"), col("__r.cen").as("n_censored"),
        round(col("__km.p"), 4).as("survival"))
  }

  /** Sliding-window distinct users via KMV sketch REAGGREGATION — the
    * 100 TB dashboard pattern: the corpus is reduced ONCE to one
    * constant-size bottom-k sketch per day (partial-aggregated), and
    * every 7-day window answer comes from merging 7 sketch rows —
    * array union + sort + take-k, the KMV merge — never from
    * re-scanning events. A COUNT(DISTINCT) per sliding window rescans
    * the fact table per window; this reads days × k sketch entries.
    *
    * Contract output (the q115 convention — the estimate itself is
    * sketch-internal): per window day, the EXACT 7-day distinct count
    * (the verification leg; at scale you'd sample-audit instead) and
    * whether the sketch estimate lands within 3/√k relative error.
    */
  def slidingDistinctUsers(events: DataFrame, tsCol: String,
      userCol: String, windowDays: Int = 7, k: Int = 256): DataFrame = {
    import graft.functions.BottomKSketch.bottomK
    val day = expr(s"unix_micros($tsCol) div 86400000000L")
    val daily = events
      .select(day.as("day"), col(userCol).cast("string").as("u"))
      .groupBy(col("day")).agg(bottomK(col("u"), k).as("sk"))
    val span = daily.agg(max(col("day")).as("__mx"))
    val covered = daily
      .select(explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("wday"), col("sk"))
      .crossJoin(broadcast(span))
      .filter(col("wday") <= col("__mx"))
    val merged = covered.groupBy(col("wday"))
      .agg(count(lit(1)).as("days_in_window"),
        slice(array_distinct(array_sort(flatten(collect_list(col("sk"))))),
          1, k).as("mk"))
    val est = merged.withColumn("__est",
      when(size(col("mk")) < k, size(col("mk")).cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          ((element_at(col("mk"), k).getField("hash").cast("double") -
            lit(Long.MinValue.toDouble)) / lit(math.pow(2.0, 64)))))
    val exact = events
      .select(day.as("day"), col(userCol).as("u")).distinct()
      .select(explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("wday"), col("u"))
      .crossJoin(broadcast(span))
      .filter(col("wday") <= col("__mx"))
      .groupBy(col("wday"))
      .agg(count_distinct(col("u")).as("exact_distinct"))
    est.join(exact, Seq("wday"))
      .select(col("wday"), col("days_in_window"), col("exact_distinct"),
        (abs(col("__est") - col("exact_distinct").cast("double")) <=
          col("exact_distinct").cast("double") * lit(3.0 / math.sqrt(k)))
          .as("within_bounds"))
  }
  /** Difference-in-differences estimator (Card & Krueger 1994 form) —
    * the quasi-experimental effect read-out when a change ships to one
    * cohort at a known cutoff: DiD = (ȳ_treat,post − ȳ_treat,pre) −
    * (ȳ_ctrl,post − ȳ_ctrl,pre), the parallel-trends-adjusted lift that
    * a plain pre/post or treat/ctrl comparison gets wrong. One
    * partial-agg pass builds all four cell sums (6dp-canonicalized
    * DECIMAL — exact, order-free) and counts; the four means and the
    * estimate are fixed-order double expressions. One summary row; NULL
    * DiD when any cell is empty.
    */
  def diffInDiff(events: DataFrame, treatCol: Column, postCol: Column,
      valueCol: String): DataFrame = {
    val base = events.select(treatCol.cast("boolean").as("__t"),
        postCol.cast("boolean").as("__p"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"))
      .filter(col("__t").isNotNull && col("__p").isNotNull &&
        col("__v").isNotNull)
    def cellN(t: Boolean, p: Boolean): Column =
      sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
    def cellS(t: Boolean, p: Boolean): Column =
      sum(when(col("__t") === t && col("__p") === p, col("__v"))
        .otherwise(lit(0).cast("decimal(18,6)"))).cast("decimal(38,6)")
    val g = base.agg(count(lit(1)).as("n"),
      cellN(true, false).as("__ntp0"), cellS(true, false).as("__stp0"),
      cellN(true, true).as("__ntp1"), cellS(true, true).as("__stp1"),
      cellN(false, false).as("__ncp0"), cellS(false, false).as("__scp0"),
      cellN(false, true).as("__ncp1"), cellS(false, true).as("__scp1"))
    def mean(s: String, n: String): Column =
      col(s).cast("double") / col(n).cast("double")
    val did = (mean("__stp1", "__ntp1") - mean("__stp0", "__ntp0")) -
      (mean("__scp1", "__ncp1") - mean("__scp0", "__ncp0"))
    g.select(col("n"),
      round(mean("__stp0", "__ntp0"), 4).as("mean_treat_pre"),
      round(mean("__stp1", "__ntp1"), 4).as("mean_treat_post"),
      round(mean("__scp0", "__ncp0"), 4).as("mean_ctrl_pre"),
      round(mean("__scp1", "__ncp1"), 4).as("mean_ctrl_post"),
      when(col("__ntp0") > 0 && col("__ntp1") > 0 && col("__ncp0") > 0 &&
        col("__ncp1") > 0, round(did, 4)).as("did"))
  }

  /** Minimum detectable effect (two-sample, two-sided α, power 1−β) per
    * metric slice — the experiment-PLANNING number every A/B platform
    * computes before a test runs: with the traffic and variance we
    * actually have, how small a lift could this slice even resolve?
    *   MDE = (z_{α/2} + z_β) · √(s²_pooled · (1/n_a + 1/n_b))
    * using the unbiased pooled variance. z constants are passed as
    * exact literals (defaults: 1.959964 / 0.841621 — α = 0.05
    * two-sided, 80% power) so both engines fold identical doubles.
    *
    * One partial-agg pass builds per-(slice, variant) exact DECIMAL
    * moments from 6dp-canonicalized values; variances, the pooled
    * term and MDE are fixed-order double expressions. Slices missing a
    * variant or with n ≤ 2 report NULL. mde_rel divides by the pooled
    * mean (NULL at 0).
    */
  def minDetectableEffect(df: DataFrame, sliceCol: String,
      variantCol: Column, valueCol: String, zAlpha: Double = 1.959964,
      zBeta: Double = 0.841621): DataFrame = {
    val base = df.select(col(sliceCol).as("__s"),
        variantCol.cast("boolean").as("__t"),
        round(col(valueCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"))
      .filter(col("__s").isNotNull && col("__t").isNotNull &&
        col("__v").isNotNull)
    def n(t: Boolean): Column =
      sum(when(col("__t") === t, 1L).otherwise(0L))
    def s1(t: Boolean): Column =
      sum(when(col("__t") === t, col("__v"))
        .otherwise(lit(0).cast("decimal(18,6)"))).cast("decimal(38,6)")
    def s2(t: Boolean): Column =
      sum(when(col("__t") === t,
        (col("__v") * col("__v")).cast("decimal(38,12)"))
        .otherwise(lit(0).cast("decimal(38,12)"))).cast("decimal(38,12)")
    val g = base.groupBy(col("__s"))
      .agg(n(false).as("n_a"), s1(false).as("__sa"), s2(false).as("__qa"),
        n(true).as("n_b"), s1(true).as("__sb"), s2(true).as("__qb"))
    def sampleVar(nn: String, s: String, q: String): Column = {
      val nd = col(nn).cast("double")
      (col(q).cast("double") -
        col(s).cast("double") * col(s).cast("double") / nd) / (nd - 1.0)
    }
    val va = sampleVar("n_a", "__sa", "__qa")
    val vb = sampleVar("n_b", "__sb", "__qb")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val pooled = ((naD - 1.0) * va + (nbD - 1.0) * vb) / (naD + nbD - 2.0)
    val mde = lit(zAlpha + zBeta) *
      sqrt(pooled * (lit(1.0) / naD + lit(1.0) / nbD))
    val meanAll = (col("__sa") + col("__sb")).cast("decimal(38,6)")
      .cast("double") / (naD + nbD)
    g.select(col("__s").as(sliceCol), col("n_a"), col("n_b"),
      when(col("n_a") > 1 && col("n_b") > 1, round(pooled, 4))
        .as("pooled_var"),
      when(col("n_a") > 1 && col("n_b") > 1, round(mde, 4)).as("mde_abs"),
      when(col("n_a") > 1 && col("n_b") > 1 && meanAll =!= 0.0,
        round(mde / meanAll, 4)).as("mde_rel"))
  }

  /** Two-feature OLS per group via the closed-form normal equations —
    * the multivariate sibling of [[groupTrend]]: fit y = β₀ + β₁x₁ +
    * β₂x₂ per group with Cramer's rule on the EXACT moment matrix
    * (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y — every moment a
    * DECIMAL sum of 6dp-canonicalized inputs, so the fit is a pure
    * function of the data, not of aggregation order). Answers the
    * joint question a single-feature trend can't ("does quality track
    * length once punctuation is controlled for?").
    *
    * Determinants are fixed-order double expressions on the exact
    * moments; groups with a singular matrix (collinear or constant
    * features, n < 3) report NULL βs. R² = 1 − SSE/SST with SSE from
    * the β-folded cross moments (same op order both engines).
    *
    * Scale: ONE partial-agg pass — nine narrow sums per group, no
    * window, no collect.
    */
  def ols2(df: DataFrame, groupCol: String, x1Col: Column, x2Col: Column,
      yCol: Column): DataFrame = {
    def canon(c: Column, n: String): Column =
      round(c.cast("double"), 6).cast("decimal(18,6)").as(n)
    val base = df.select(col(groupCol).as("__g"), canon(x1Col, "__x1"),
        canon(x2Col, "__x2"), canon(yCol, "__y"))
      .filter(col("__x1").isNotNull && col("__x2").isNotNull &&
        col("__y").isNotNull)
    def m2(a: String, b: String): Column =
      sum((col(a) * col(b)).cast("decimal(38,12)")).cast("decimal(38,12)")
    val g = base.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(col("__x1")).cast("decimal(38,6)").as("__s1"),
      sum(col("__x2")).cast("decimal(38,6)").as("__s2"),
      sum(col("__y")).cast("decimal(38,6)").as("__sy"),
      m2("__x1", "__x1").as("__s11"), m2("__x2", "__x2").as("__s22"),
      m2("__x1", "__x2").as("__s12"), m2("__x1", "__y").as("__s1y"),
      m2("__x2", "__y").as("__s2y"),
      m2("__y", "__y").as("__syy"))
    val nD = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    // centered second moments (computed identically in the oracle)
    val a11 = d("__s11") - d("__s1") * d("__s1") / nD
    val a22 = d("__s22") - d("__s2") * d("__s2") / nD
    val a12 = d("__s12") - d("__s1") * d("__s2") / nD
    val b1 = d("__s1y") - d("__s1") * d("__sy") / nD
    val b2 = d("__s2y") - d("__s2") * d("__sy") / nD
    val det = a11 * a22 - a12 * a12
    val beta1 = (b1 * a22 - b2 * a12) / det
    val beta2 = (b2 * a11 - b1 * a12) / det
    val beta0 = (d("__sy") - beta1 * d("__s1") - beta2 * d("__s2")) / nD
    val sst = d("__syy") - d("__sy") * d("__sy") / nD
    val sse = sst - (beta1 * b1 + beta2 * b2)
    val ok = col("n") >= 3 && abs(det) > 1e-9
    g.select(col("__g").as(groupCol), col("n"),
      when(ok, round(beta0, 4)).as("beta0"),
      when(ok, round(beta1, 4)).as("beta1"),
      when(ok, round(beta2, 4)).as("beta2"),
      when(ok && sst > 0, round(lit(1.0) - sse / sst, 4)).as("r2"))
  }

}
