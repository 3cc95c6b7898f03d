package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._

import Shared._

/** Event analytics and time series over the `events` table: sessionization,
  * funnels, retention, resampling, windowed statistics and event sketches.
  */
object EventQueries {

  val all: Seq[Query] = Seq(
    // Window: running frame + lag. Ordered by µs-truncated time (+
    // event_id tie-break) so Spark and the DuckDB oracle (whose parquet
    // reader truncates TIMESTAMP_NS to µs) sort at the SAME precision —
    // same-µs/different-ns events would otherwise order differently.
    Query("q15_window_running", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      Tables.events(s, d).select(
        col("event_id"),
        sum(col("value").cast("decimal(18,6)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"),
        lag(col("value"), 1).over(w).as("prev_value"))
    },
      """SELECT event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        | lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin),

    // Streaming-shaped tumbling-window agg (batch form)
    Query("q21_events_hourly", (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value"), 6).as("sum_value")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        | event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Semi-structured: JSON field extraction + agg
    Query("q22_json_extract", (s, d) =>
      Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k")),
      """SELECT k % 10 AS k_bucket, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin),

    // Sessionization (lag + cumulative boundary sum; 30-min gap).
    // µs granularity: DuckDB truncates TIMESTAMP_NS parquet to µs.
    Query("q47_sessionize", (s, d) =>
      graft.operators.Sessionize.sessionStats(
        Tables.events(s, d)
          .select(col("user_id"), expr("ts_ns div 1000").as("ts_us")),
        "user_id", "ts_us", gap = 1800000000L),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT user_id, ts_us,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nb
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(ts_us) AS session_start, max(ts_us) AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    // SpaceSaving heavy-hitters contract: the guaranteed heavy hitters
    // (exact count * capacity > N — a deterministic set) must all be
    // tracked by the 50-counter mergeable sketch with est >= true and
    // est - err <= true, on whatever partitioning the scan produced.
    // (Skew synthesized: a third of events collapse onto 7 hot keys.)
    Query("q109_heavy_hitters", (s, d) => {
      val keyed = Tables.events(s, d).select(
        when(col("user_id") % 3 === 0, col("user_id") % 7)
          .otherwise(col("user_id")).as("k"))
      val items = keyed
        .agg(graft.functions.SpaceSavingSketch.spaceSavingTopK(col("k"), 50).as("hh"))
        .select(explode(col("hh")).as("x"))
        .select(col("x.item").as("hh_item"), col("x.est").as("est"),
          col("x.err").as("err"))
      val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
      val total = keyed.agg(count(lit(1)).as("n"))
      exact.crossJoin(broadcast(total))
        .filter(col("exact_count") * 50 > col("n"))
        .join(broadcast(items), col("k") === col("hh_item"), "left")
        .select(col("k").as("item"), col("exact_count"),
          col("hh_item").isNotNull.as("found"),
          (col("est") >= col("exact_count") &&
            col("est") - col("err") <= col("exact_count")).as("bounds_ok"))
    },
      """WITH k AS (SELECT CASE WHEN user_id % 3 = 0 THEN user_id % 7
        |    ELSE user_id END AS k FROM events),
        |ex AS (SELECT k, count(*) AS exact_count FROM k GROUP BY k),
        |tot AS (SELECT count(*) AS n FROM k)
        |SELECT k AS item, exact_count, true AS found, true AS bounds_ok
        |FROM ex, tot WHERE exact_count * 50 > n""".stripMargin),

    // Quantile-sketch contract (the q115 pattern for GK quantiles):
    // percentile_approx at accuracy 1000 must place every estimate's
    // exact rank within ±2n/1000 of the target rank, per group and
    // quantile. 2ε, not ε: Spark's QuantileSummaries compresses after
    // partial-summary merges and the merged summary does not strictly
    // preserve 1/accuracy (measured: rank error 2.0 vs ε·n = 1.98 on
    // the view-group median at sf0.01) — the standard GK merge
    // analysis bounds the merged+compressed error by 2ε, and measured
    // errors sit at half that bound. The estimate itself is
    // merge-order-sensitive, so only the guaranteed flags are output.
    Query("q137_quantile_sketch", (s, d) => {
      val qs = Seq(0.25, 0.5, 0.75, 0.95)
      val acc = 1000
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val est = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), array(qs.map(lit): _*), lit(acc))
          .as("est"))
        .select(col("event_type"), posexplode(col("est")).as(Seq("qi", "est")))
      val qArr = array(qs.map(lit): _*)
      ev.join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"), col("qi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("__rank_lo"),
          sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("__rank_hi"))
        .withColumn("__q", element_at(qArr, col("qi") + 1))
        .select(col("event_type"), col("qi"), col("n"),
          (col("__rank_lo") <= (col("__q") + lit(2.0 / acc)) * col("n"))
            .as("rank_lo_ok"),
          (col("__rank_hi") >= (col("__q") - lit(2.0 / acc)) * col("n"))
            .as("rank_hi_ok"))
    },
      // GK rank-error contract: groups × quantile ordinals with exact n;
      // flags guaranteed by the sketch's ±n/accuracy rank bound
      """WITH g AS (SELECT event_type, count(value) AS n FROM events
        |  WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT event_type, q.qi, n,
        |  true AS rank_lo_ok, true AS rank_hi_ok
        |FROM g, (VALUES (0), (1), (2), (3)) AS q(qi)""".stripMargin),

    // Count-Min point-frequency contract (the q109 pattern for a LINEAR
    // sketch): estimates are deterministic on ANY partitioning (cell-wise
    // sums commute), never undercount, and for this dataset land within
    // the ε=e/width overcount bound for every key. Same skewed key as
    // q109 so the two sketches answer the same workload from opposite
    // ends (top-k set vs point lookup).
    Query("q131_cms_freq", (s, d) => {
      import graft.functions.CountMinSketch.{cmsEstimate, cmsSketch}
      val depth = 4; val width = 2048
      // r13: staging this 3-consumer frame was TRIED and reverted — the
      // branches re-read a single pruned int column (near-free at any
      // scale thanks to column pruning), so the checkpoint write cost
      // more than the re-scans it saved (measured 0.53 vs ~0.40
      // normalized). Staging pays only when the shared subtree carries
      // real compute (tokenize, explode, regex), not a bare scan.
      val keyed = Tables.events(s, d).select(
        when(col("user_id") % 3 === 0, col("user_id") % 7)
          .otherwise(col("user_id")).as("k"))
      val sk = keyed.agg(cmsSketch(col("k"), depth, width).as("sk"))
      val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
      val total = keyed.agg(count(lit(1)).as("n"))
      exact.crossJoin(broadcast(sk)).crossJoin(broadcast(total))
        .withColumn("__est", cmsEstimate(col("sk"), col("k"), depth, width))
        .select(col("k").as("item"), col("exact_count"),
          (col("__est") >= col("exact_count")).as("never_under"),
          (col("__est").cast("double") <=
            col("exact_count") + lit(math.E / width) * col("n")).as("within_eps"))
    },
      // CMS contract: never_under holds unconditionally (counters only
      // overcount); within_eps verified deterministic for this dataset
      // (the sketch is a linear summary — partitioning-independent)
      """WITH k AS (SELECT CASE WHEN user_id % 3 = 0 THEN user_id % 7
        |    ELSE user_id END AS k FROM events)
        |SELECT k AS item, count(*)::BIGINT AS exact_count,
        |  true AS never_under, true AS within_eps
        |FROM k GROUP BY k""".stripMargin),

    // GROUPED heavy hitters: one SpaceSaving sketch PER event_type (the
    // per-group constant-state path — partial aggregation merges sketch
    // buffers inside each group on whatever partitioning the scan
    // produced). Contract identical to q109, evaluated per group: every
    // guaranteed heavy hitter of its group must be tracked with both
    // error bounds holding.
    Query("q119_heavy_hitters_grouped", (s, d) => {
      val keyed = Tables.events(s, d).select(col("event_type"),
        when(col("user_id") % 3 === 0, col("user_id") % 7)
          .otherwise(col("user_id")).as("k"))
      val items = keyed
        .groupBy(col("event_type"))
        .agg(graft.functions.SpaceSavingSketch.spaceSavingTopK(col("k"), 50).as("hh"))
        .select(col("event_type"), explode(col("hh")).as("x"))
        .select(col("event_type"), col("x.item").as("hh_item"),
          col("x.est").as("est"), col("x.err").as("err"))
      val exact = keyed.groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("exact_count"))
      val totals = keyed.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      exact.join(broadcast(totals), Seq("event_type"))
        .filter(col("exact_count") * 50 > col("n"))
        .join(broadcast(items),
          col("k") === col("hh_item") &&
            exact("event_type") === items("event_type"), "left")
        .select(exact("event_type").as("event_type"), col("k").as("item"),
          col("exact_count"),
          col("hh_item").isNotNull.as("found"),
          (col("est") >= col("exact_count") &&
            col("est") - col("err") <= col("exact_count")).as("bounds_ok"))
    },
      // grouped contract: the guaranteed set per event_type, all found,
      // all bounds holding (found/bounds_ok constant-true like q109)
      """WITH k AS (SELECT event_type,
        |    CASE WHEN user_id % 3 = 0 THEN user_id % 7
        |    ELSE user_id END AS k FROM events),
        |ex AS (SELECT event_type, k, count(*) AS exact_count
        |  FROM k GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS n FROM k GROUP BY 1)
        |SELECT ex.event_type, ex.k AS item, exact_count,
        |  true AS found, true AS bounds_ok
        |FROM ex JOIN tot USING (event_type)
        |WHERE exact_count * 50 > n""".stripMargin),

    // Time-series resample: 6h grid per user, LOCF values (µs granularity)
    Query("q59_resample_locf", (s, d) =>
      graft.operators.Resample.locf(
        Tables.events(s, d)
          .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("value")),
        keyCol = "user_id", tsCol = "ts_us", valueCol = "value",
        step = 6L * 3600 * 1000000),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |spans AS (SELECT user_id, (min(ts_us) // 21600000000) * 21600000000 AS g0,
        |                 max(ts_us) AS g1 FROM e GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(g0, g1, 21600000000)) AS grid_ts
        |         FROM spans)
        |SELECT g.user_id, g.grid_ts, r.value AS value_locf
        |FROM grid g ASOF LEFT JOIN e r
        | ON g.user_id = r.user_id AND g.grid_ts >= r.ts_us""".stripMargin),

    // Time-weighted average value per user (lead-based interval weighting;
    // event_id tie-break — µs truncation can collide timestamps)
    Query("q65_time_weighted_avg", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
        .withColumn("nxt", lead(col("ts_us"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(
          round(
            sum(when(col("nxt").isNotNull,
              col("value").cast("decimal(18,6)") * (col("nxt") - col("ts_us"))))
              .cast("double") /
              (max(col("ts_us")) - min(col("ts_us"))), 4).as("twa"),
          count(lit(1)).as("n_events"))
        .filter(col("n_events") > 1)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
        | FROM events)
        |SELECT user_id,
        | round(CAST(SUM(CASE WHEN nxt IS NOT NULL
        |    THEN CAST(value AS DECIMAL(18,6)) * (nxt - ts_us) END) AS DOUBLE)
        |   / (max(ts_us) - min(ts_us)), 4) AS twa,
        | count(*) AS n_events
        |FROM e GROUP BY user_id HAVING count(*) > 1""".stripMargin),

    // Built-in session_window aggregation — same 30-min-gap semantics as
    // the q47 lag+cumsum operator, cross-validated against the same
    // DuckDB sessionization (three-way: operator / built-in / oracle)
    Query("q66_session_window", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("n_events")),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT user_id, ts_us,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nb
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |  sum(nb) OVER (PARTITION BY user_id ORDER BY ts_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM b)
        |SELECT user_id,
        | strftime(make_timestamp(min(ts_us)), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin),

    // Window value functions: first/last/nth over a bounded frame.
    // Ordering uses µs-truncated ts (DuckDB truncates TIMESTAMP_NS to µs,
    // so ns-ordering could disagree on same-µs ties) + event_id tie-break
    Query("q71_window_values", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
        .select(
          col("event_id"),
          first(col("value")).over(w).as("first_v"),
          last(col("value")).over(w).as("last_v"),
          nth_value(col("value"), 2).over(w).as("second_v"))
    },
      """SELECT event_id,
        | first_value(value) OVER w AS first_v,
        | last_value(value) OVER w AS last_v,
        | nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // RANGE frame: trailing-1h moving sum per user (event-time windowed,
    // no row-count assumption)
    Query("q72_range_frame", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us"), col("value"))
        .select(col("event_id"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("trailing_1h_sum"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |   PARTITION BY user_id ORDER BY ts_us
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS trailing_1h_sum
        |FROM e""".stripMargin),

    // A/B two-proportion z-test: cohort = user_id parity, conversion =
    // ever purchased; pooled-variance z with exact counts, sqrt is one
    // correctly-rounded op — deterministic; 4dp display
    Query("q176_ab_test", (s, d) => {
      val base = Tables.events(s, d)
        .groupBy((col("user_id") % 2).as("cohort"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      val agg = base.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val wide = agg.agg(
        max(when(col("cohort") === 0, col("n"))).as("n0"),
        max(when(col("cohort") === 0, col("c"))).as("c0"),
        max(when(col("cohort") === 1, col("n"))).as("n1"),
        max(when(col("cohort") === 1, col("c"))).as("c1"))
      val p0 = col("c0").cast("double") / col("n0")
      val p1 = col("c1").cast("double") / col("n1")
      val pp = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
      val se = sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
      wide.select(col("n0"), col("c0"), col("n1"), col("c1"),
        round(p1 - p0, 4).as("lift"),
        when(se > 0, round((p1 - p0) / se, 4)).as("z"))
    },
      // A/B replay: same pooled-variance expression tree (sqrt is one
      // correctly-rounded op on identical operands)
      """WITH b AS (SELECT user_id % 2 AS cohort, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT cohort, count(*) AS n, sum(conv) AS c FROM b GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN cohort = 0 THEN n END)::BIGINT AS n0,
        |    max(CASE WHEN cohort = 0 THEN c END)::BIGINT AS c0,
        |    max(CASE WHEN cohort = 1 THEN n END)::BIGINT AS n1,
        |    max(CASE WHEN cohort = 1 THEN c END)::BIGINT AS c1
        |  FROM a)
        |SELECT n0, c0, n1, c1,
        |  round(c1::DOUBLE / n1 - c0::DOUBLE / n0, 4) AS lift,
        |  CASE WHEN sqrt((c0 + c1)::DOUBLE / (n0 + n1)
        |      * (1.0::DOUBLE - (c0 + c1)::DOUBLE / (n0 + n1))
        |      * (1.0::DOUBLE / n0 + 1.0::DOUBLE / n1)) > 0
        |    THEN round((c1::DOUBLE / n1 - c0::DOUBLE / n0)
        |      / sqrt((c0 + c1)::DOUBLE / (n0 + n1)
        |        * (1.0::DOUBLE - (c0 + c1)::DOUBLE / (n0 + n1))
        |        * (1.0::DOUBLE / n0 + 1.0::DOUBLE / n1)), 4) END AS z
        |FROM w""".stripMargin),

    // Capped running balance: per-user cumulative sum of (value − 50)
    // clamped to [0, 500] — the NON-LINEAR running aggregate (stock
    // levels, rate-limit buckets) plain windows cannot express; the
    // q156 ordered-fold recursion with a clamp step
    Query("q177_capped_balance", (s, d) => {
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("user_id").as("k"), unix_micros(col("ts")).as("us"),
          col("event_id").as("id"),
          (col("value") - lit(50.0)).as("delta"))
      val sorted = ev.groupBy(col("k"))
        .agg(array_sort(collect_list(struct(col("us"), col("id"),
          col("delta")))).as("__ev"))
      val zero = struct(
        array().cast("array<struct<id:bigint,balance:double>>").as("out"),
        lit(0.0).as("bal"))
      sorted.select(col("k"),
        explode(aggregate(col("__ev"), zero, (acc, e) => {
          val nb = greatest(lit(0.0),
            least(lit(500.0), acc.getField("bal") + e.getField("delta")))
          struct(concat(acc.getField("out"), array(struct(
            e.getField("id").as("id"), nb.as("balance")))).as("out"),
            nb.as("bal"))
        }).getField("out")).as("r"))
        .select(col("r.id").as("event_id"), col("r.balance").as("balance"))
    },
      // Capped-balance replay: recursive CTE with the same clamp chain
      // (greatest/least are exact on identical doubles)
      """WITH RECURSIVE e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE - 50.0::DOUBLE AS delta
        |  FROM events WHERE value IS NOT NULL),
        |o AS (SELECT k, id, delta,
        |    row_number() OVER (PARTITION BY k ORDER BY us, id) AS rn FROM e),
        |r AS (
        |  SELECT k, id, rn,
        |    greatest(0.0::DOUBLE, least(500.0::DOUBLE, 0.0::DOUBLE + delta))
        |      AS balance
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.k, o.id, o.rn,
        |    greatest(0.0::DOUBLE, least(500.0::DOUBLE, r.balance + o.delta))
        |  FROM o JOIN r ON o.k = r.k AND o.rn = r.rn + 1)
        |SELECT id AS event_id, balance FROM r""".stripMargin),

    // Rolling 7-day distinct users (rolling WAU): each distinct
    // (day, user) pair contributes to exactly 7 report days — a bounded
    // ×7 explode of the DEDUPLICATED pairs, then a distinct-count, so
    // no raw-event range join and no O(days × events) rescans
    Query("q178_rolling_wau", (s, d) => {
      val ev = Tables.events(s, d)
      val du = ev.select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = ev.select(to_date(col("ts")).as("rday")).distinct()
      du.select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("rday"), col("user_id"))
        .join(days, Seq("rday"))
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("rday").cast("string").as("day"), col("wau"))
    },
      // Rolling-WAU replay: 7-day trailing window as a date-range join
      // over the deduplicated day/user pairs
      """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |days AS (SELECT DISTINCT ts::DATE AS rday FROM events)
        |SELECT d.rday::VARCHAR AS day,
        |  count(DISTINCT u.user_id)::BIGINT AS wau
        |FROM days d JOIN du u ON u.day BETWEEN d.rday - 6 AND d.rday
        |GROUP BY d.rday""".stripMargin),

    // Last-touch attribution: each purchase credits the user's most
    // recent PRECEDING non-purchase event type ('direct' if none) —
    // last(ignoreNulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING,
    // totally ordered by (µs, event_id)
    Query("q179_attribution", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("attr", coalesce(
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w), lit("direct")))
        .filter(col("event_type") === "purchase")
        .groupBy(col("attr")).agg(count(lit(1)).as("purchases"))
    },
      // Attribution replay: identical IGNORE NULLS window, same total
      // (µs, event_id) order
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    event_id FROM events),
        |a AS (SELECT user_id, event_type,
        |    coalesce(last_value(
        |        CASE WHEN event_type <> 'purchase' THEN event_type END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'direct') AS attr
        |  FROM e)
        |SELECT attr, count(*)::BIGINT AS purchases FROM a
        |WHERE event_type = 'purchase' GROUP BY attr""".stripMargin),

    // Inter-arrival burstiness per user: B = (σ−µ)/(σ+µ) over exact µs
    // gaps — the bot/machine-cadence signal; ordered (g−µ)² fold, 4dp
    // with −0.0 canonicalization
    Query("q183_burstiness", (s, d) =>
      graft.operators.EventAnalytics.burstiness(Tables.events(s, d),
        "user_id", "ts", "event_id"),
      // Burstiness replay: exact BIGINT Σg, same gap-ordered (g−µ)² fold,
      // +0.0 canonicalization on the 4dp outputs
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id AS id
        |  FROM events),
        |g AS (SELECT k, us, id,
        |    us - lag(us) OVER (PARTITION BY k ORDER BY us, id) AS g
        |  FROM e),
        |a AS (SELECT k, count(*) AS n_gaps, sum(g)::BIGINT AS sg
        |  FROM g WHERE g IS NOT NULL GROUP BY k),
        |f AS (SELECT k, n_gaps, sg, sg // n_gaps AS c
        |  FROM a WHERE n_gaps >= 2),
        |d AS (SELECT g.k, f.n_gaps, f.sg, (g.g - f.c)::HUGEINT AS d
        |  FROM g JOIN f ON g.k = f.k WHERE g.g IS NOT NULL),
        |s AS (SELECT k, any_value(n_gaps) AS n_gaps, any_value(sg) AS sg,
        |    sum(d)::HUGEINT AS s1, sum(d * d)::HUGEINT AS s2
        |  FROM d GROUP BY k),
        |b AS (SELECT k, n_gaps, sg::DOUBLE / n_gaps AS mu,
        |    s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_gaps::DOUBLE AS ss
        |  FROM s),
        |c AS (SELECT k, n_gaps, mu, sqrt(ss / n_gaps) AS sigma FROM b)
        |SELECT k AS user_id, n_gaps::BIGINT AS n_gaps,
        |  round(mu / 1000000.0, 4) + 0.0 AS mean_gap_s,
        |  CASE WHEN mu > 0 THEN round(sigma / mu, 4) + 0.0 END AS cv,
        |  CASE WHEN mu > 0
        |    THEN round((sigma - mu) / (sigma + mu), 4) + 0.0 END
        |    AS burstiness
        |FROM c""".stripMargin),

    // Cramér's V for lang × source on documents: the shape-normalized
    // effect size that makes the q172 chi-square comparable across
    // tables — "is the association practically real?"
    Query("q332_cramers_v", (s, d) =>
      graft.operators.EventAnalytics.cramersV(
        t(s, d, "documents")
          .filter(col("lang").isNotNull && col("source").isNotNull),
        "lang", "source"),
      // Cramér's V replay: the q172 complete-grid ordered chi fold plus
      // the engine's exact √(χ²₄dp/(n·min(r−1,c−1))) composition
      """WITH cells AS (SELECT lang AS r, source AS c, count(*) AS o
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o) AS rt FROM cells GROUP BY r),
        |ct AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
        |n AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |fl AS (SELECT rt.r, ct.c, coalesce(cells.o, 0) AS o,
        |    (rt.rt * ct.ct)::DOUBLE / n.n AS e, n.n
        |  FROM rt CROSS JOIN ct CROSS JOIN n
        |  LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
        |s AS (SELECT max(n)::BIGINT AS n,
        |    count(DISTINCT r)::BIGINT AS n_rows,
        |    count(DISTINCT c)::BIGINT AS n_cols,
        |    round(list_reduce(list_prepend(0.0,
        |      list((o - e) * (o - e) / e ORDER BY r, c)),
        |      (a, b) -> a + b), 4) AS chi2
        |  FROM fl)
        |SELECT n, n_rows, n_cols, chi2,
        |  CASE WHEN least(n_rows - 1, n_cols - 1) > 0 THEN
        |    round(sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))::DOUBLE),
        |      4) END AS cramers_v
        |FROM s""".stripMargin),

    // Difference-in-differences on events: odd users "treated", the
    // Jan-16 cutoff splits pre/post — the parallel-trends-adjusted lift
    // in mean event value, exact DECIMAL cell sums
    Query("q339_did", (s, d) =>
      graft.operators.EventAnalytics.diffInDiff(Tables.events(s, d),
        col("user_id") % 2 === 1,
        col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"),
        "value"),
      // DiD replay: identical four-cell DECIMAL sums and the engine's
      // exact mean/difference op order
      """WITH b AS (SELECT (user_id % 2 = 1) AS t,
        |    (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p,
        |    round(value, 6)::DECIMAL(18,6) AS v
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |g AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::BIGINT AS ntp0,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN v
        |      ELSE 0::DECIMAL(18,6) END) AS DECIMAL(38,6)) AS stp0,
        |    sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::BIGINT AS ntp1,
        |    CAST(SUM(CASE WHEN t AND p THEN v
        |      ELSE 0::DECIMAL(18,6) END) AS DECIMAL(38,6)) AS stp1,
        |    sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::BIGINT
        |      AS ncp0,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN v
        |      ELSE 0::DECIMAL(18,6) END) AS DECIMAL(38,6)) AS scp0,
        |    sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::BIGINT AS ncp1,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN v
        |      ELSE 0::DECIMAL(18,6) END) AS DECIMAL(38,6)) AS scp1
        |  FROM b)
        |SELECT n,
        |  round(stp0::DOUBLE / ntp0::DOUBLE, 4) AS mean_treat_pre,
        |  round(stp1::DOUBLE / ntp1::DOUBLE, 4) AS mean_treat_post,
        |  round(scp0::DOUBLE / ncp0::DOUBLE, 4) AS mean_ctrl_pre,
        |  round(scp1::DOUBLE / ncp1::DOUBLE, 4) AS mean_ctrl_post,
        |  CASE WHEN ntp0 > 0 AND ntp1 > 0 AND ncp0 > 0 AND ncp1 > 0 THEN
        |    round((stp1::DOUBLE / ntp1::DOUBLE - stp0::DOUBLE
        |        / ntp0::DOUBLE)
        |      - (scp1::DOUBLE / ncp1::DOUBLE - scp0::DOUBLE
        |        / ncp0::DOUBLE), 4) END AS did
        |FROM g""".stripMargin),

    // Ordered-fold SKEW STRESS (the q292 shape applied to the
    // sequential-op family): 30% of events land on ONE hot key, then a
    // per-key EWMA fold runs over that distribution — pins that the
    // documented per-key buffer contract holds at the worst realistic
    // skew, bit-exact vs the oracle's list_reduce replay
    Query("q350_skew_fold_stress", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("k", when(col("event_id") % 10 < 3, lit(0L))
          .otherwise(col("user_id") + 1L))
      graft.operators.EventAnalytics.ewmaFinal(ev, "k", "ts",
        "event_id", "value")
    },
      // Skew-fold replay: same hot-key salt, per-key (µs, id)-ordered
      // list_reduce with the identical dyadic α blend — bit-exact raw
      // doubles, no recursion (the fold is the recursion)
      """WITH e AS (SELECT
        |    CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id + 1 END AS k,
        |    epoch_us(ts) AS us, event_id AS id, value::DOUBLE AS x
        |  FROM events WHERE value IS NOT NULL)
        |SELECT k, count(*)::BIGINT AS n_events,
        |  list_reduce(list(x ORDER BY us, id),
        |    (a, v) -> 0.25::DOUBLE * v + 0.75::DOUBLE * a) AS ewma_final
        |FROM e GROUP BY k""".stripMargin),

    // Two-feature OLS per language: does token count track char length
    // once word count is controlled for? Exact DECIMAL moment matrix,
    // Cramer's-rule βs, R² — the joint-effect answer q's single-feature
    // trends can't give
    Query("q346_ols2", (s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      val toks = tokens(col("text"))
      graft.operators.EventAnalytics.ols2(
        docs.select(col("lang"), col("n_chars"),
          size(toks).as("n_words"),
          size(array_distinct(toks)).as("n_distinct")),
        "lang", col("n_chars"), col("n_words"), col("n_distinct"))
    },
      // OLS-2 replay: identical DECIMAL moment matrix, identical centered
      // second moments, Cramer's-rule determinants in the same op order
      s"""WITH b AS (SELECT lang AS g,
         |    round(n_chars::DOUBLE, 6)::DECIMAL(18,6) AS x1,
         |    round(len($tokensSql)::DOUBLE, 6)::DECIMAL(18,6) AS x2,
         |    round(len(list_distinct($tokensSql))::DOUBLE, 6)
         |      ::DECIMAL(18,6) AS y
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |g AS (SELECT g, count(*)::BIGINT AS n,
         |    CAST(SUM(x1) AS DECIMAL(38,6)) AS s1,
         |    CAST(SUM(x2) AS DECIMAL(38,6)) AS s2,
         |    CAST(SUM(y) AS DECIMAL(38,6)) AS sy,
         |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS s11,
         |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS s22,
         |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS s12,
         |    CAST(SUM(CAST(x1 * y AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS s1y,
         |    CAST(SUM(CAST(x2 * y AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS s2y,
         |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DECIMAL(38,12))
         |      AS syy
         |  FROM b GROUP BY 1),
         |m AS (SELECT g, n,
         |    s11::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE AS a11,
         |    s22::DOUBLE - s2::DOUBLE * s2::DOUBLE / n::DOUBLE AS a22,
         |    s12::DOUBLE - s1::DOUBLE * s2::DOUBLE / n::DOUBLE AS a12,
         |    s1y::DOUBLE - s1::DOUBLE * sy::DOUBLE / n::DOUBLE AS b1,
         |    s2y::DOUBLE - s2::DOUBLE * sy::DOUBLE / n::DOUBLE AS b2,
         |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS sst,
         |    s1::DOUBLE AS s1d, s2::DOUBLE AS s2d, sy::DOUBLE AS syd
         |  FROM g),
         |f AS (SELECT g, n, a11 * a22 - a12 * a12 AS det, a11, a22, a12,
         |    b1, b2, sst, s1d, s2d, syd FROM m),
         |r AS (SELECT g, n, det, sst,
         |    (b1 * a22 - b2 * a12) / det AS beta1,
         |    (b2 * a11 - b1 * a12) / det AS beta2, b1, b2, s1d, s2d, syd
         |  FROM f),
         |o AS (SELECT g, n, det, sst, beta1, beta2, b1, b2,
         |    (syd - beta1 * s1d - beta2 * s2d) / n::DOUBLE AS beta0
         |  FROM r)
         |SELECT g AS lang, n,
         |  CASE WHEN n >= 3 AND abs(det) > 1e-9 THEN round(beta0, 4) END
         |    AS beta0,
         |  CASE WHEN n >= 3 AND abs(det) > 1e-9 THEN round(beta1, 4) END
         |    AS beta1,
         |  CASE WHEN n >= 3 AND abs(det) > 1e-9 THEN round(beta2, 4) END
         |    AS beta2,
         |  CASE WHEN n >= 3 AND abs(det) > 1e-9 AND sst > 0 THEN
         |    round(1.0::DOUBLE - (sst - (beta1 * b1 + beta2 * b2))
         |      / sst, 4) END AS r2
         |FROM o""".stripMargin),

    // Minimum detectable effect per event_type at α=0.05 / 80% power:
    // with this traffic and variance, how small a lift in mean value
    // could each slice even resolve? The experiment-PLANNING number.
    Query("q344_mde", (s, d) =>
      graft.operators.EventAnalytics.minDetectableEffect(
        Tables.events(s, d), "event_type", col("user_id") % 2 === 1,
        "value"),
      // MDE replay: identical per-variant DECIMAL moments, the engine's
      // exact variance/pooled/√ op order, z literals SUMMED (not
      // pre-added) so both engines fold the same doubles
      """WITH b AS (SELECT event_type AS s, (user_id % 2 = 1) AS t,
        |    round(value, 6)::DECIMAL(18,6) AS v
        |  FROM events WHERE event_type IS NOT NULL
        |    AND user_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT s,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    CAST(SUM(CASE WHEN NOT t THEN v ELSE 0::DECIMAL(18,6) END)
        |      AS DECIMAL(38,6)) AS sa,
        |    CAST(SUM(CASE WHEN NOT t THEN CAST(v * v AS DECIMAL(38,12))
        |      ELSE 0::DECIMAL(38,12) END) AS DECIMAL(38,12)) AS qa,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    CAST(SUM(CASE WHEN t THEN v ELSE 0::DECIMAL(18,6) END)
        |      AS DECIMAL(38,6)) AS sb,
        |    CAST(SUM(CASE WHEN t THEN CAST(v * v AS DECIMAL(38,12))
        |      ELSE 0::DECIMAL(38,12) END) AS DECIMAL(38,12)) AS qb
        |  FROM b GROUP BY 1),
        |x AS (SELECT s, n_a, n_b, sa, sb,
        |    (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / n_a::DOUBLE)
        |      / (n_a::DOUBLE - 1.0::DOUBLE) AS va,
        |    (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / n_b::DOUBLE)
        |      / (n_b::DOUBLE - 1.0::DOUBLE) AS vb
        |  FROM g),
        |p AS (SELECT s, n_a, n_b, sa, sb,
        |    ((n_a::DOUBLE - 1.0::DOUBLE) * va
        |      + (n_b::DOUBLE - 1.0::DOUBLE) * vb)
        |      / (n_a::DOUBLE + n_b::DOUBLE - 2.0::DOUBLE) AS pooled
        |  FROM x),
        |m AS (SELECT s, n_a, n_b, pooled,
        |    (1.959964::DOUBLE + 0.841621::DOUBLE)
        |      * sqrt(pooled * (1.0::DOUBLE / n_a::DOUBLE
        |        + 1.0::DOUBLE / n_b::DOUBLE)) AS mde,
        |    CAST(sa + sb AS DECIMAL(38,6))::DOUBLE
        |      / (n_a::DOUBLE + n_b::DOUBLE) AS meanall
        |  FROM p)
        |SELECT s AS event_type, n_a, n_b,
        |  CASE WHEN n_a > 1 AND n_b > 1 THEN round(pooled, 4) END
        |    AS pooled_var,
        |  CASE WHEN n_a > 1 AND n_b > 1 THEN round(mde, 4) END AS mde_abs,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND meanall <> 0.0 THEN
        |    round(mde / meanall, 4) END AS mde_rel
        |FROM m""".stripMargin),

    // Sliding 7-day distinct users from merged per-day KMV sketches —
    // window answers from days×k sketch rows, never a fact rescan;
    // exact count + 3/√k bound as the contract
    Query("q272_sliding_distinct", (s, d) =>
      graft.operators.EventAnalytics.slidingDistinctUsers(
        Tables.events(s, d), "ts", "user_id"),
      // Sliding-distinct replay: exact windowed distinct via the same
      // day-cover explode; bound flag holds deterministically (q115/q131
      // convention)
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id AS u FROM events),
        |mx AS (SELECT max(day) AS m FROM du),
        |cov AS (SELECT day + g AS wday, u
        |  FROM du, unnest(generate_series(0, 6)) AS t(g), mx
        |  WHERE day + g <= mx.m),
        |dd AS (SELECT DISTINCT day FROM du),
        |dcov AS (SELECT day + g AS wday
        |  FROM dd, unnest(generate_series(0, 6)) AS t(g), mx
        |  WHERE day + g <= mx.m)
        |SELECT c.wday,
        |  (SELECT count(*) FROM dcov WHERE dcov.wday = c.wday)::BIGINT
        |    AS days_in_window,
        |  count(DISTINCT c.u)::BIGINT AS exact_distinct,
        |  true AS within_bounds
        |FROM cov c GROUP BY c.wday""".stripMargin),

    // Pre-flight join-cardinality estimate: CM inner product between
    // the click-side and purchase-side user_id sketches vs the exact
    // join size — two constant-size sketch passes answer "how big is
    // this join" before paying for it; never-under + eps contracts in
    // the q131 style
    Query("q269_cms_join_size", (s, d) => {
      import graft.functions.CountMinSketch.{cmsInnerProduct, cmsSketch}
      val depth = 4; val width = 2048
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click").select(col("user_id"))
      val b = ev.filter(col("event_type") === "purchase").select(col("user_id"))
      val ska = a.agg(cmsSketch(col("user_id"), depth, width).as("ska"),
        count(lit(1)).as("n_a"))
      val skb = b.agg(cmsSketch(col("user_id"), depth, width).as("skb"),
        count(lit(1)).as("n_b"))
      val exact = a.groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("cb")),
          Seq("user_id"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
          .as("exact_join_size"))
      ska.crossJoin(broadcast(skb)).crossJoin(broadcast(exact))
        .withColumn("__est",
          cmsInnerProduct(col("ska"), col("skb"), depth, width))
        .select(col("n_a"), col("n_b"), col("exact_join_size"),
          (col("__est") >= col("exact_join_size")).as("never_under"),
          ((col("__est") - col("exact_join_size")).cast("double") <=
            lit(math.E / width) * col("n_a").cast("double") *
              col("n_b").cast("double")).as("within_eps"))
    },
      // Join-size replay: exact Σ ca·cb over matched keys; the sketch
      // bounds hold unconditionally (never_under) / deterministically
      // for this dataset (within_eps) — the q131 contract convention
      """WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |ca AS (SELECT user_id, count(*) AS c FROM a GROUP BY user_id),
        |cb AS (SELECT user_id, count(*) AS c FROM b GROUP BY user_id)
        |SELECT (SELECT count(*) FROM a)::BIGINT AS n_a,
        |  (SELECT count(*) FROM b)::BIGINT AS n_b,
        |  coalesce((SELECT sum(ca.c * cb.c) FROM ca JOIN cb
        |    USING (user_id)), 0)::BIGINT AS exact_join_size,
        |  true AS never_under, true AS within_eps""".stripMargin),

    // SCD type-2 interval construction: per-user state runs (event_type
    // as the tracked state) compressed to [valid_from, valid_to)
    // validity intervals — the CDC → dimension-table build
    Query("q190_scd2", (s, d) =>
      graft.operators.EventAnalytics.scd2Intervals(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type"),
      // SCD2 replay: same (µs, event_id) total order, change-flag running
      // sum, per-run min/count, lead() interval close
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS eid, event_type AS state FROM events),
        |c AS (SELECT k, us, eid, state,
        |    CASE WHEN lag(state) OVER (PARTITION BY k ORDER BY us, eid)
        |      IS DISTINCT FROM state THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |v AS (SELECT k, us, state, (sum(chg) OVER (PARTITION BY k
        |    ORDER BY us, eid ROWS UNBOUNDED PRECEDING))::BIGINT AS version
        |  FROM c),
        |r AS (SELECT k, version, min(state) AS state,
        |    min(us) AS valid_from_us, count(*)::BIGINT AS n_events
        |  FROM v GROUP BY k, version)
        |SELECT k AS user_id, version, state, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY k ORDER BY version)
        |    AS valid_to_us,
        |  n_events
        |FROM r""".stripMargin),

    // Theil-Sen robust trend per user: lower median of pairwise slopes
    // — bit-exact raw doubles (each slope one subtract + one divide,
    // median an element); the outlier-immune q160 companion
    Query("q201_theil_sen", (s, d) =>
      graft.operators.EventAnalytics.theilSen(Tables.events(s, d),
        "user_id", "ts", "value"),
      // Theil-Sen replay: same ordered pairs (equal-µs excluded), same
      // single-divide slopes, lower-median element pick
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |p AS (SELECT a.k, (b.v - a.v) / ((b.us - a.us)::DOUBLE) AS s
        |  FROM e a JOIN e b ON a.k = b.k AND a.us < b.us),
        |m AS (SELECT k, count(*)::BIGINT AS n_pairs,
        |    list_sort(list(s)) AS ss FROM p GROUP BY k),
        |n AS (SELECT k, count(*)::BIGINT AS n_events FROM e GROUP BY k)
        |SELECT n.k AS user_id, n.n_events,
        |  coalesce(m.n_pairs, 0)::BIGINT AS n_pairs,
        |  ss[(len(ss) + 1) // 2] AS ts_slope
        |FROM n LEFT JOIN m USING (k)""".stripMargin),

    // Decile mobility matrix: per-user activity deciles over the early
    // vs late half of the window (ntile(10) on the (Σ value, user)
    // total order), 10×10 transition counts
    Query("q202_decile_mobility", (s, d) =>
      graft.operators.EventAnalytics.decileMobility(Tables.events(s, d),
        "user_id", "ts", "value"),
      // Decile-mobility replay: integer midpoint, DECIMAL(18,6) per-half
      // sums (ordering only), ntile(10) on the identical total order
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    value::DECIMAL(18,6) AS v FROM events WHERE value IS NOT NULL),
        |md AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS mid FROM e),
        |h AS (SELECT u, CASE WHEN us <= mid THEN 0 ELSE 1 END AS half, v
        |  FROM e CROSS JOIN md),
        |s AS (SELECT u, half, sum(v) AS sv FROM h GROUP BY u, half),
        |r AS (SELECT u, half, ntile(10) OVER (PARTITION BY half
        |    ORDER BY sv, u) AS decile FROM s)
        |SELECT a.decile AS d_early, b.decile AS d_late,
        |  count(*)::BIGINT AS n_users
        |FROM r a JOIN r b ON a.u = b.u AND a.half = 0 AND b.half = 1
        |GROUP BY 1, 2""".stripMargin),

    // RFM segmentation census: recency/frequency/monetary quintiles on
    // (metric, user) total orders, (r,f,m) population counts
    Query("q205_rfm", (s, d) =>
      graft.operators.EventAnalytics.rfmSegments(Tables.events(s, d),
        "user_id", "ts", "value"),
      // RFM replay: identical per-user aggregates and ntile total orders
      """WITH b AS (SELECT user_id AS u, max(epoch_us(ts))::BIGINT AS rec,
        |    count(*)::BIGINT AS freq, sum(value::DECIMAL(18,6)) AS mon
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |r AS (SELECT u,
        |    ntile(5) OVER (ORDER BY rec, u) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, u) AS f_score,
        |    ntile(5) OVER (ORDER BY mon, u) AS m_score FROM b)
        |SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_users
        |FROM r GROUP BY 1, 2, 3""".stripMargin),

    // Cohort LTV triangle: first-activity-week cohorts, DECIMAL-exact
    // cumulative value by week offset, active/cohort user counts
    Query("q208_ltv_triangle", (s, d) =>
      graft.operators.EventAnalytics.ltvTriangle(Tables.events(s, d),
        "user_id", "ts", "value"),
      // LTV replay: integral µs→day→week division, per-cell DECIMAL sums,
      // cumulative on the aggregate frame, int64-decimal→double emit
      """WITH e AS (SELECT user_id AS u,
        |    (epoch_us(ts) // 86400000000)::BIGINT AS day,
        |    value::DECIMAL(18,6) AS v FROM events WHERE value IS NOT NULL),
        |f AS (SELECT u, day, v, min(day) OVER (PARTITION BY u) AS fday
        |  FROM e),
        |g AS (SELECT (fday // 7)::BIGINT AS cohort_week,
        |    ((day - fday) // 7)::BIGINT AS week_offset, u, v FROM f),
        |cells AS (SELECT cohort_week, week_offset, sum(v) AS val,
        |    count(DISTINCT u)::BIGINT AS n_active_users FROM g
        |  GROUP BY 1, 2),
        |users AS (SELECT cohort_week, count(DISTINCT u)::BIGINT
        |    AS n_cohort_users FROM g GROUP BY 1),
        |cum AS (SELECT cohort_week, week_offset, n_active_users,
        |    (sum(val) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |      ROWS UNBOUNDED PRECEDING))::DECIMAL(18,6)::DOUBLE
        |      AS cum_value
        |  FROM cells)
        |SELECT c.cohort_week, c.week_offset, u.n_cohort_users,
        |  c.n_active_users, c.cum_value
        |FROM cum c JOIN users u USING (cohort_week)""".stripMargin),

    // CUSUM change-point scan: per-user max |Σ(v−µ)| with first-peak
    // event id — bit-exact raw doubles via the q177 recursion replay
    Query("q209_cusum", (s, d) =>
      graft.operators.EventAnalytics.cusum(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // CUSUM replay: identical µ (int64-DECIMAL→double, one divide),
      // q177-style recursion with the same strict-> first-peak rule
      """WITH RECURSIVE e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |o AS (SELECT k, id, v,
        |    row_number() OVER (PARTITION BY k ORDER BY us, id) AS rn
        |  FROM e),
        |st AS (SELECT k, count(*)::BIGINT AS n,
        |    (sum(v::DECIMAL(18,6))::DECIMAL(18,6))::DOUBLE
        |      / count(*)::DOUBLE AS mu
        |  FROM e GROUP BY k),
        |r AS (
        |  SELECT o.k, o.rn, (o.v - st.mu) AS s, abs(o.v - st.mu) AS m,
        |    o.id AS at_id, st.mu AS mu
        |  FROM o JOIN st USING (k) WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.k, o.rn, r.s + (o.v - r.mu),
        |    CASE WHEN abs(r.s + (o.v - r.mu)) > r.m
        |      THEN abs(r.s + (o.v - r.mu)) ELSE r.m END,
        |    CASE WHEN abs(r.s + (o.v - r.mu)) > r.m THEN o.id
        |      ELSE r.at_id END,
        |    r.mu
        |  FROM r JOIN o ON o.k = r.k AND o.rn = r.rn + 1)
        |SELECT st.k AS user_id, st.n AS n_events, r.m AS cusum_max_abs,
        |  r.at_id AS at_event_id
        |FROM r JOIN st ON st.k = r.k AND r.rn = st.n""".stripMargin),

    // Welch two-sample t-test on mean value between the q176 parity
    // cohorts: exact DECIMAL Σx/Σx² of 6dp-canonicalized values
    // (order-free partial aggs — no whole-cohort fold), 4dp t + df
    Query("q210_welch_ttest", (s, d) =>
      graft.operators.EventAnalytics.welchTTest(Tables.events(s, d),
        "value", (col("user_id") % 2) === 1),
      // Welch replay: identical exact DECIMAL sums of 6dp-canonicalized
      // values and the same final double op sequence; cohorts by parity
      """WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g,
        |    round(value, 6)::DECIMAL(18,6) AS x FROM events
        |  WHERE value IS NOT NULL),
        |s AS (SELECT g, count(*)::BIGINT AS n,
        |    CAST(CAST(SUM(x) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS DOUBLE) AS sxx
        |  FROM b GROUP BY g),
        |t AS (SELECT g, n, sx / n::DOUBLE AS m,
        |    ((sxx - sx * sx / n::DOUBLE) / (n - 1)::DOUBLE) / n::DOUBLE
        |      AS se2
        |  FROM s),
        |w AS (SELECT
        |    max(CASE WHEN g = 0 THEN n END) AS n_a,
        |    max(CASE WHEN g = 1 THEN n END) AS n_b,
        |    max(CASE WHEN g = 0 THEN m END) AS m_a,
        |    max(CASE WHEN g = 1 THEN m END) AS m_b,
        |    max(CASE WHEN g = 0 THEN se2 END) AS sea,
        |    max(CASE WHEN g = 1 THEN se2 END) AS seb
        |  FROM t)
        |SELECT n_a, n_b, round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
        |  round((m_a - m_b) / sqrt(sea + seb), 4) AS t_stat,
        |  round(((sea + seb) * (sea + seb)) /
        |    (sea * sea / (n_a - 1)::DOUBLE + seb * seb / (n_b - 1)::DOUBLE),
        |    4) AS welch_df
        |FROM w""".stripMargin),

    // Weekly growth accounting: new / retained / resurrected per active
    // week plus churned = prior-week actives who didn't return
    Query("q213_growth_accounting", (s, d) =>
      graft.operators.EventAnalytics.growthAccounting(Tables.events(s, d),
        "user_id", "ts"),
      // Growth-accounting replay: same distinct (user,week) frame, lag
      // classification, active(w−1) − retained(w) churn
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS w FROM events),
        |t AS (SELECT u, w, lag(w) OVER (PARTITION BY u ORDER BY w) AS p
        |  FROM uw),
        |s AS (SELECT w AS week,
        |    sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |    sum(CASE WHEN p = w - 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_retained,
        |    sum(CASE WHEN p IS NOT NULL AND p < w - 1 THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_resurrected
        |  FROM t GROUP BY w),
        |a AS (SELECT w, count(*)::BIGINT AS n_active FROM uw GROUP BY w)
        |SELECT s.week, a.n_active, s.n_new, s.n_retained, s.n_resurrected,
        |  (coalesce(pa.n_active, 0) - s.n_retained)::BIGINT AS n_churned
        |FROM s JOIN a ON a.w = s.week
        |LEFT JOIN a pa ON pa.w = s.week - 1""".stripMargin),

    // Gini + Lorenz deciles of per-user total value: rank-weighted sums
    // on the aggregated distinct-total frame (q188 stance), all-DECIMAL
    Query("q214_gini_lorenz", (s, d) =>
      graft.operators.EventAnalytics.giniLorenz(Tables.events(s, d),
        "user_id", "value"),
      // Gini/Lorenz replay: distinct-total frame, DECIMAL rank-weighted
      // sums, identical final double op sequence (::DOUBLE on literals —
      // the q155 DECIMAL-literal pitfall)
      """WITH tot AS (SELECT user_id AS u,
        |    sum(value::DECIMAL(18,6))::DECIMAL(18,6) AS tv
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
        |grp AS (SELECT tv, count(*)::BIGINT AS c FROM tot GROUP BY tv),
        |cum AS (SELECT tv, c,
        |    sum(c) OVER (ORDER BY tv)::BIGINT AS cu,
        |    sum(tv * c) OVER (ORDER BY tv)::DECIMAL(38,6) AS cv
        |  FROM grp),
        |st AS (SELECT sum(c)::BIGINT AS n,
        |    sum(tv * c)::DECIMAL(38,6) AS s,
        |    sum(tv * (c * (cu - c) + (c * (c + 1)) // 2))::DECIMAL(38,6)
        |      AS s1
        |  FROM cum),
        |d AS (SELECT unnest(generate_series(1, 10)) AS decile),
        |tg AS (SELECT d.decile, (st.n * d.decile) // 10 AS t,
        |    st.n, st.s, st.s1 FROM d CROSS JOIN st)
        |SELECT tg.decile, tg.t AS user_rank,
        |  coalesce(round((cum.cv - cum.tv * (cum.cu - tg.t))::DECIMAL(38,6)
        |      ::DOUBLE / tg.s::DOUBLE, 4), 0.0) AS cum_value_share,
        |  round(2.0::DOUBLE * tg.s1::DOUBLE
        |      / (tg.n::DOUBLE * tg.s::DOUBLE)
        |    - (tg.n::DOUBLE + 1.0::DOUBLE) / tg.n::DOUBLE, 4) AS gini
        |FROM tg LEFT JOIN cum
        |  ON cum.cu - cum.c < tg.t AND tg.t <= cum.cu""".stripMargin),

    // Per-user lag-1..3 autocorrelation of value: ordered central-
    // product folds over the user's own series, exact-DECIMAL mean
    Query("q215_autocorrelation", (s, d) =>
      graft.operators.EventAnalytics.autocorrelation(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // ACF replay: identical ordered lists, 1-based indexed lag products
      // folded left-to-right, same µ
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |s AS (SELECT k, count(*)::BIGINT AS n,
        |    (sum(v::DECIMAL(18,6))::DECIMAL(18,6))::DOUBLE
        |      / count(*)::DOUBLE AS mu,
        |    list(v ORDER BY us, id) AS xs
        |  FROM e GROUP BY k),
        |f AS (SELECT k, n, mu, xs,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(xs, x -> (x - mu) * (x - mu))),
        |      (a, b) -> a + b) AS m2
        |  FROM s WHERE n > 3)
        |SELECT k AS user_id, n AS n_events,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(generate_series(1, (n - 1)::INT),
        |      i -> (xs[i] - mu) * (xs[i + 1] - mu))), (a, b) -> a + b)
        |    / m2, 4) AS acf1,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(generate_series(1, (n - 2)::INT),
        |      i -> (xs[i] - mu) * (xs[i + 2] - mu))), (a, b) -> a + b)
        |    / m2, 4) AS acf2,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(generate_series(1, (n - 3)::INT),
        |      i -> (xs[i] - mu) * (xs[i + 3] - mu))), (a, b) -> a + b)
        |    / m2, 4) AS acf3
        |FROM f WHERE m2 > 0.0""".stripMargin),

    // Kaplan-Meier survival of inter-event waiting times (censored at
    // the corpus max ts): risk sets, event/censor counts, Π(1−d/n)
    Query("q216_kaplan_meier", (s, d) =>
      graft.operators.EventAnalytics.kaplanMeier(Tables.events(s, d),
        "user_id", "ts", "event_id"),
      // KM replay: same duration frame; recursive CTE carries (consumed,
      // product) — identical risk-set subtraction and multiply order
      """WITH RECURSIVE e AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    event_id AS id FROM events),
        |mx AS (SELECT max(us) AS maxus FROM e),
        |g AS (SELECT u, us,
        |    lead(us) OVER (PARTITION BY u ORDER BY us, id) AS nxt
        |  FROM e),
        |durs AS (SELECT CASE WHEN nxt IS NOT NULL
        |      THEN (nxt - us) // 86400000000
        |      ELSE (mx.maxus - us) // 86400000000 END AS d,
        |    CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS cens
        |  FROM g CROSS JOIN mx),
        |bd AS (SELECT d, sum(1 - cens)::BIGINT AS ev,
        |    sum(cens)::BIGINT AS cen FROM durs GROUP BY d),
        |o AS (SELECT d, ev, cen, row_number() OVER (ORDER BY d) AS rn
        |  FROM bd),
        |tt AS (SELECT sum(ev + cen)::BIGINT AS tot FROM bd),
        |r AS (
        |  SELECT o.rn, o.d, o.ev, o.cen, tt.tot,
        |    (o.ev + o.cen) AS consumed,
        |    1.0::DOUBLE * (1.0::DOUBLE - o.ev::DOUBLE / tt.tot::DOUBLE)
        |      AS p
        |  FROM o CROSS JOIN tt WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.d, o.ev, o.cen, r.tot,
        |    r.consumed + o.ev + o.cen,
        |    r.p * (1.0::DOUBLE
        |      - o.ev::DOUBLE / (r.tot - r.consumed)::DOUBLE)
        |  FROM r JOIN o ON o.rn = r.rn + 1)
        |SELECT r.d AS duration_days,
        |  (r.tot - (r.consumed - r.ev - r.cen))::BIGINT AS n_at_risk,
        |  r.ev AS n_events, r.cen AS n_censored,
        |  round(r.p, 4) AS survival
        |FROM r""".stripMargin),

    // Weekly OHLC bars per user over value: struct-ordered open/close,
    // plain high/low, exact-DECIMAL totals
    Query("q218_ohlc", (s, d) =>
      graft.operators.Resample.ohlcBars(Tables.events(s, d), "user_id",
        "ts", "event_id", "value", bucketUs = 604800000000L),
      // OHLC replay: ordered first/last aggregates over the same
      // (µs, id) total order, exact-DECIMAL totals
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL)
        |SELECT k AS user_id, us // 604800000000 AS bucket,
        |  first(v ORDER BY us, id) AS open,
        |  max(v) AS high, min(v) AS low,
        |  last(v ORDER BY us, id) AS close,
        |  count(*)::BIGINT AS n_events,
        |  (sum(v::DECIMAL(18,6))::DECIMAL(18,6))::DOUBLE AS total
        |FROM e GROUP BY k, us // 604800000000""".stripMargin),

    // TWAP per user: exact DECIMAL·µs interval weighting, single divide
    Query("q219_twap", (s, d) =>
      graft.operators.EventAnalytics.twap(Tables.events(s, d), "user_id",
        "ts", "event_id", "value"),
      // TWAP replay: exact DECIMAL·µs interval weights, single divide
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DECIMAL(18,6) AS v FROM events
        |  WHERE value IS NOT NULL),
        |g AS (SELECT k, v, us,
        |    lead(us) OVER (PARTITION BY k ORDER BY us, id) AS nxt
        |  FROM e),
        |seg AS (SELECT k, (v * (nxt - us))::DECIMAL(38,6) AS wv,
        |    (nxt - us) AS dt FROM g WHERE nxt IS NOT NULL),
        |s AS (SELECT k, count(*)::BIGINT AS n_segments,
        |    sum(wv)::DECIMAL(38,6) AS swv, sum(dt)::BIGINT AS span
        |  FROM seg GROUP BY k)
        |SELECT k AS user_id, n_segments, span AS span_us,
        |  round(swv::DOUBLE / span::DOUBLE, 4) AS twap
        |FROM s WHERE span > 0""".stripMargin),

    // Holt linear smoothing per user: level+trend recursion (α=.5,
    // β=.25 dyadic blends), final state + one-step forecast
    Query("q223_holt_linear", (s, d) =>
      graft.operators.EventAnalytics.holtLinear(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // Holt replay: recursive CTE with the same dyadic blend literals
      // and op order (level expression repeated inside the trend blend)
      """WITH RECURSIVE e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |o AS (SELECT k, v,
        |    row_number() OVER (PARTITION BY k ORDER BY us, id) AS rn
        |  FROM e),
        |st AS (SELECT k, count(*)::BIGINT AS n FROM e GROUP BY k),
        |r AS (SELECT k, rn, v AS l, 0.0::DOUBLE AS b FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.k, o.rn,
        |    0.5::DOUBLE * o.v + 0.5::DOUBLE * (r.l + r.b),
        |    0.25::DOUBLE * ((0.5::DOUBLE * o.v + 0.5::DOUBLE * (r.l + r.b))
        |      - r.l) + 0.75::DOUBLE * r.b
        |  FROM r JOIN o ON o.k = r.k AND o.rn = r.rn + 1)
        |SELECT st.k AS user_id, st.n AS n_events, round(r.l, 4) AS level,
        |  round(r.b, 4) AS trend, round(r.l + r.b, 4) AS forecast
        |FROM r JOIN st ON st.k = r.k AND r.rn = st.n""".stripMargin),

    // Funnel step-latency percentiles: strict-after chain + q161
    // integer nearest-rank picks over exact µs latencies
    Query("q227_funnel_latency", (s, d) =>
      graft.operators.EventAnalytics.funnelLatencies(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      // Funnel-latency replay: q174 strict-after chain (unbounded) +
      // q161 integer nearest-rank percentile picks
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts)
        |    AS us FROM events),
        |s1 AS (SELECT u, min(us) AS t1 FROM e WHERE t = 'view' GROUP BY u),
        |s2 AS (SELECT e.u, s1.t1, min(us) AS t2 FROM e
        |  JOIN s1 ON e.u = s1.u WHERE t = 'click' AND us > t1
        |  GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, s2.t2, min(us) AS t3 FROM e
        |  JOIN s2 ON e.u = s2.u WHERE t = 'purchase' AND us > t2
        |  GROUP BY e.u, s2.t2),
        |lat AS (SELECT 2 AS step, (t2 - t1)::BIGINT AS v FROM s2
        |  UNION ALL SELECT 3, (t3 - t2)::BIGINT FROM s3),
        |r AS (SELECT step, v,
        |    row_number() OVER (PARTITION BY step ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY step) AS n FROM lat)
        |SELECT step, max(n)::BIGINT AS n,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END)::BIGINT
        |    AS p50,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END)::BIGINT
        |    AS p90,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END)::BIGINT
        |    AS p99
        |FROM r GROUP BY step""".stripMargin),

    // DAU/MAU stickiness via coverage islands — no 28× explode, all
    // integers until the final ratio
    Query("q228_dau_mau", (s, d) =>
      graft.operators.EventAnalytics.dauMauStickiness(Tables.events(s, d),
        "user_id", "ts"),
      // DAU/MAU replay: same coverage islands, ±1 boundary deltas, and
      // integer running sums — no FP anywhere until the final ratio
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |l AS (SELECT u, d, lag(d) OVER (PARTITION BY u ORDER BY d) AS p
        |  FROM ud),
        |i AS (SELECT u, d,
        |    sum(CASE WHEN p IS NULL OR d - p > 27 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM l),
        |sp AS (SELECT u, isl, min(d) AS s, max(d) + 27 AS e FROM i
        |  GROUP BY u, isl),
        |dl AS (SELECT s AS d, 1 AS delta FROM sp
        |  UNION ALL SELECT e + 1, -1 FROM sp
        |  UNION ALL SELECT DISTINCT d, 0 FROM ud),
        |cv AS (SELECT d, sum(delta)::BIGINT AS dl FROM dl GROUP BY d),
        |m AS (SELECT d, sum(dl) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS mau FROM cv),
        |da AS (SELECT d, count(*)::BIGINT AS dau FROM ud GROUP BY d)
        |SELECT da.d AS day, da.dau, m.mau,
        |  round(da.dau::DOUBLE / m.mau::DOUBLE, 4) AS stickiness
        |FROM da JOIN m ON m.d = da.d""".stripMargin),

    // U-shaped multi-touch attribution: 40/20/40 credits as exact
    // integer fractions, per-channel exact DECIMAL(28,18) sums
    Query("q229_position_attribution", (s, d) =>
      graft.operators.EventAnalytics.positionAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", "purchase"),
      // Attribution replay: same integer credit scheme, per-channel
      // (purchase, position)-ordered share folds, anti-joined directs
      """WITH ev AS (SELECT user_id AS u, event_type AS t,
        |    epoch_us(ts) AS us, event_id AS id FROM events),
        |pur AS (SELECT u, id AS pid, us AS pt FROM ev
        |  WHERE t = 'purchase'),
        |tch AS (SELECT u, t AS ch, us AS tus, id AS tid FROM ev
        |  WHERE t <> 'purchase'),
        |j AS (SELECT pur.pid, tch.ch, tch.tus, tch.tid
        |  FROM pur JOIN tch ON tch.u = pur.u AND tch.tus < pur.pt),
        |c AS (SELECT pid, ch,
        |    row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS pos,
        |    count(*) OVER (PARTITION BY pid) AS n
        |  FROM j),
        |f AS (SELECT pid, ch, pos,
        |    (CASE WHEN n <= 2 THEN 1
        |      WHEN pos = 1 OR pos = n THEN 2 * (n - 2)
        |      ELSE 1 END)::DOUBLE
        |    / (CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN 2
        |      ELSE 5 * (n - 2) END)::DOUBLE AS frac
        |  FROM c),
        |ag AS (SELECT ch AS channel, count(*)::BIGINT AS n_touches,
        |    CAST(CAST(SUM(frac::DECIMAL(28,18)) AS DECIMAL(38,18))
        |      AS DOUBLE) AS attr
        |  FROM f GROUP BY ch),
        |dr AS (SELECT 'direct' AS channel, count(*)::BIGINT AS n_touches,
        |    count(*)::DOUBLE AS attr
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM j))
        |SELECT channel, n_touches, round(attr, 4)
        |    AS attributed_conversions
        |FROM (SELECT * FROM ag UNION ALL
        |      SELECT * FROM dr WHERE n_touches > 0)""".stripMargin),

    // Recency-decayed activity: dyadic weekly half-life (bit-shift
    // weights — no libm pow), ordered folds
    Query("q230_half_life", (s, d) =>
      graft.operators.EventAnalytics.halfLifeScore(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // Half-life replay: the SAME exact scale-20 dyadic weight literals,
      // pure decimal sums, full-scale string emit (q01 stance)
      {
      val ws = graft.operators.EventAnalytics.halfLifeWeights
        .map(_.toPlainString).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
         |    event_id AS id, value::DECIMAL(12,2) AS v FROM events
         |  WHERE value IS NOT NULL),
         |mx AS (SELECT max(us) AS ref FROM e),
         |w AS (SELECT k, v,
         |    ($ws::DECIMAL(21,20)[])[
         |      (least(20, (mx.ref - us) // 604800000000) + 1)::INT] AS w
         |  FROM e CROSS JOIN mx)
         |SELECT k AS user_id, count(*)::BIGINT AS n_events,
         |  sum(w)::DECIMAL(38,20)::VARCHAR AS decayed_count,
         |  sum(v * w)::DECIMAL(38,22)::VARCHAR AS decayed_value
         |FROM w GROUP BY k""".stripMargin
    }),

    // Top-10 session event-type paths (30-min gap, 8-step cap)
    Query("q232_session_paths", (s, d) =>
      graft.operators.EventAnalytics.sessionPaths(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", gapUs = 1800000000L),
      // Session-path replay: q47 session rule, (µs, id)-ordered 8-step
      // path strings
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts)
        |    AS us, event_id AS id FROM events),
        |b AS (SELECT u, t, us, id,
        |    CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nb
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY us)),
        |s AS (SELECT u, t, us, id,
        |    CAST(sum(nb) OVER (PARTITION BY u ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM b),
        |p AS (SELECT u, sid,
        |    array_to_string(list(t ORDER BY us, id)[1:8], '→') AS path
        |  FROM s GROUP BY u, sid)
        |SELECT path, count(*)::BIGINT AS n_sessions FROM p
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin),

    // Debounce census: same-(user,type) events within 10min suppressed
    Query("q234_debounce", (s, d) =>
      graft.operators.EventAnalytics.debounceCensus(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        toleranceUs = 600000000L),
      // Debounce replay: same per-(key,type) lag rule and rate divide
      """WITH e AS (SELECT user_id AS k, event_type AS t, epoch_us(ts)
        |    AS us, event_id AS id FROM events),
        |l AS (SELECT k, t, us,
        |    lag(us) OVER (PARTITION BY k, t ORDER BY us, id) AS p
        |  FROM e),
        |f AS (SELECT t, CASE WHEN p IS NULL OR us - p > 600000000
        |    THEN 1 ELSE 0 END AS kept FROM l)
        |SELECT t AS event_type, count(*)::BIGINT AS n_total,
        |  sum(kept)::BIGINT AS n_kept,
        |  (count(*) - sum(kept))::BIGINT AS n_suppressed,
        |  round((count(*) - sum(kept))::DOUBLE / count(*)::DOUBLE, 4)
        |    AS suppression_rate
        |FROM f GROUP BY t""".stripMargin),

    // CUPED variance reduction: pre/post half-window split, pooled θ,
    // parity cohorts, per-cohort raw vs adjusted means + var ratio
    Query("q238_cuped", (s, d) =>
      graft.operators.EventAnalytics.cuped(Tables.events(s, d),
        "user_id", "ts", "value"),
      // CUPED replay: identical pre/post DECIMAL splits, exact DECIMAL
      // pooled sums (order-free), same θ/µX/Y′/ratio op sequences
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    value::DECIMAL(18,6) AS v FROM events
        |  WHERE value IS NOT NULL),
        |md AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |xy AS (SELECT u,
        |    sum(CASE WHEN us <= md.mid THEN v
        |      ELSE 0::DECIMAL(18,6) END)::DECIMAL(18,6) AS x,
        |    sum(CASE WHEN us > md.mid THEN v
        |      ELSE 0::DECIMAL(18,6) END)::DECIMAL(18,6) AS y
        |  FROM e CROSS JOIN md GROUP BY u),
        |p AS (SELECT count(*)::BIGINT AS n,
        |    CAST(CAST(SUM(x) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(x::DECIMAL(19,6) * y AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(x::DECIMAL(19,6) * x AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS DOUBLE) AS sxx
        |  FROM xy),
        |t AS (SELECT n, sx, sy,
        |    (sxy - sx * sy / n::DOUBLE)
        |      / (sxx - sx * sx / n::DOUBLE) AS theta,
        |    sx / n::DOUBLE AS mux
        |  FROM p),
        |adj AS (SELECT xy.u, (xy.u % 2)::INT AS g, xy.y,
        |    round(xy.y::DOUBLE - t.theta * (xy.x::DOUBLE - t.mux), 6)
        |      ::DECIMAL(18,6) AS yadj,
        |    t.n, t.sy, t.theta
        |  FROM xy CROSS JOIN t),
        |pv AS (SELECT
        |    CAST(CAST(SUM(CAST(y::DECIMAL(19,6) * y AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(yadj) AS DECIMAL(38,6)) AS DOUBLE) AS sa,
        |    CAST(CAST(SUM(CAST(yadj::DECIMAL(19,6) * yadj
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS DOUBLE) AS saa,
        |    max(n) AS n, max(sy) AS sy, max(theta) AS theta
        |  FROM adj),
        |vr AS (SELECT theta,
        |    (saa - sa * sa / n::DOUBLE)
        |      / (syy - sy * sy / n::DOUBLE) AS var_ratio
        |  FROM pv)
        |SELECT adj.g AS cohort, count(*)::BIGINT AS n_users,
        |  round(CAST(CAST(SUM(adj.y) AS DECIMAL(38,6)) AS DOUBLE)
        |    / count(*)::DOUBLE, 4) AS mean_y,
        |  round(CAST(CAST(SUM(adj.yadj) AS DECIMAL(38,6)) AS DOUBLE)
        |    / count(*)::DOUBLE, 4) AS mean_y_adj,
        |  round(max(vr.theta), 4) AS theta,
        |  round(max(vr.var_ratio), 4) AS var_ratio
        |FROM adj CROSS JOIN vr GROUP BY adj.g""".stripMargin),

    // Mann-Kendall trend z per user: exact integer S + tie-corrected
    // variance, continuity-corrected z
    Query("q239_mann_kendall", (s, d) =>
      graft.operators.EventAnalytics.mannKendall(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // Mann-Kendall replay: same strict (µs,id) pair order, integer S
      // and tie polynomial, identical z sequence
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |s AS (SELECT a.k,
        |    sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1
        |      ELSE 0 END)::BIGINT AS s_stat
        |  FROM e a JOIN e b ON a.k = b.k AND (a.us < b.us
        |    OR (a.us = b.us AND a.id < b.id))
        |  GROUP BY a.k),
        |t AS (SELECT k,
        |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tt,
        |    sum(t)::BIGINT AS n
        |  FROM (SELECT k, v, count(*)::BIGINT AS t FROM e GROUP BY k, v)
        |  GROUP BY k),
        |j AS (SELECT t.k, t.n, s.s_stat,
        |    (t.n * (t.n - 1) * (2 * t.n + 5) - t.tt)::BIGINT AS varnum
        |  FROM t JOIN s ON s.k = t.k)
        |SELECT k AS user_id, n AS n_events, s_stat,
        |  round((CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE
        |    WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE
        |    ELSE 0.0::DOUBLE END)
        |    / sqrt(varnum::DOUBLE / 18.0::DOUBLE), 4) AS mk_z
        |FROM j WHERE varnum > 0""".stripMargin),

    // Burst intervals: hourly counts > 2× mean (cross-multiplied BIGINT
    // flag), consecutive flagged hours merged
    Query("q245_bursts", (s, d) =>
      graft.operators.EventAnalytics.burstIntervals(Tables.events(s, d),
        "ts", factor = 2L),
      // Burst replay: same cross-multiplied flag and hour islands
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS c FROM events GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS nh, sum(c)::BIGINT AS tot
        |  FROM h),
        |f AS (SELECT h.h, h.c FROM h CROSS JOIN st
        |  WHERE h.c * st.nh > 2 * st.tot),
        |l AS (SELECT h, c, lag(h) OVER (ORDER BY h) AS p FROM f),
        |i AS (SELECT h, c,
        |    sum(CASE WHEN p IS NULL OR h - p > 1 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
        |  FROM l)
        |SELECT min(h)::BIGINT AS start_hour, max(h)::BIGINT AS end_hour,
        |  count(*)::BIGINT AS n_hours, max(c)::BIGINT AS peak_count,
        |  sum(c)::BIGINT AS total_events
        |FROM i GROUP BY b""".stripMargin),

    // Lead-lag cross-correlation of view vs purchase hourly series
    Query("q247_cross_correlation", (s, d) =>
      graft.operators.EventAnalytics.crossCorrelation(Tables.events(s, d),
        "ts", "event_type", "view", "purchase"),
      // Cross-correlation replay: same dense spine, full-series means/
      // variances, overlap-only numerator folds in hour order
      """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type
        |    AS t FROM events WHERE event_type IN ('view', 'purchase')),
        |sp AS (SELECT unnest(generate_series(
        |    (SELECT min(h) FROM e), (SELECT max(h) FROM e))) AS h),
        |cnt AS (SELECT h, t, count(*)::BIGINT AS c FROM e GROUP BY h, t),
        |se AS (SELECT sp.h,
        |    coalesce(ca.c, 0)::DOUBLE AS a, coalesce(cb.c, 0)::DOUBLE AS b
        |  FROM sp LEFT JOIN cnt ca ON ca.h = sp.h AND ca.t = 'view'
        |  LEFT JOIN cnt cb ON cb.h = sp.h AND cb.t = 'purchase'),
        |pk AS (SELECT count(*)::BIGINT AS n,
        |    list(a ORDER BY h) AS xa, list(b ORDER BY h) AS xb FROM se),
        |ms AS (SELECT n, xa, xb,
        |    list_reduce(list_prepend(0.0, xa), (x, y) -> x + y)
        |      / n::DOUBLE AS ma,
        |    list_reduce(list_prepend(0.0, xb), (x, y) -> x + y)
        |      / n::DOUBLE AS mb
        |  FROM pk),
        |ds AS (SELECT n, xa, xb, ma, mb,
        |    list_reduce(list_prepend(0.0, list_transform(xa,
        |      x -> (x - ma) * (x - ma))), (x, y) -> x + y) AS da,
        |    list_reduce(list_prepend(0.0, list_transform(xb,
        |      x -> (x - mb) * (x - mb))), (x, y) -> x + y) AS db
        |  FROM ms),
        |lg AS (SELECT unnest(generate_series(-3, 3)) AS lag_hours)
        |SELECT ds.n AS n_hours, lg.lag_hours,
        |  round((CASE WHEN ds.n > abs(lg.lag_hours) THEN
        |    list_reduce(list_prepend(0.0,
        |      list_transform(generate_series(1,
        |          (ds.n - abs(lg.lag_hours))::INT),
        |        i -> (ds.xa[(i + greatest(-lg.lag_hours, 0))::INT]
        |            - ds.ma)
        |          * (ds.xb[(i + greatest(lg.lag_hours, 0))::INT]
        |            - ds.mb))),
        |      (x, y) -> x + y)
        |    ELSE 0.0 END) / sqrt(ds.da * ds.db), 4) AS xcorr
        |FROM ds CROSS JOIN lg""".stripMargin),

    // Per-user churn-feature matrix
    Query("q248_user_features", (s, d) =>
      graft.operators.EventAnalytics.userFeatures(Tables.events(s, d),
        "user_id", "ts", "value"),
      // Feature-matrix replay: exact aggregates + single divides
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us,
        |    value::DECIMAL(18,6) AS v FROM events),
        |mx AS (SELECT max(us) AS ref FROM e),
        |g AS (SELECT u, count(*)::BIGINT AS n_events,
        |    (max(us) - min(us)) // 86400000000 AS tenure_days,
        |    (max(mx.ref) - max(us)) // 86400000000 AS recency_days,
        |    (coalesce(sum(v), 0::DECIMAL(18,6))::DECIMAL(18,6))::DOUBLE
        |      AS total,
        |    count(v)::BIGINT AS nv
        |  FROM e CROSS JOIN mx GROUP BY u)
        |SELECT u AS user_id, n_events, tenure_days, recency_days,
        |  round(total, 4) AS total_value,
        |  round(CASE WHEN nv > 0 THEN total / nv::DOUBLE ELSE 0.0 END, 4)
        |    AS mean_value,
        |  round(CASE WHEN n_events > 1
        |    THEN tenure_days::DOUBLE / (n_events - 1)::DOUBLE
        |    ELSE 0.0 END, 4) AS days_per_event
        |FROM g""".stripMargin),

    // D1/D7/D28 retention one-liner
    Query("q249_retention_rates", (s, d) =>
      graft.operators.EventAnalytics.retentionRates(Tables.events(s, d),
        "user_id", "ts"),
      // Retention replay: same first-day/first-return frame
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS d FROM events),
        |f AS (SELECT u, min(d) AS f FROM ud GROUP BY u),
        |r AS (SELECT ud.u, min(ud.d - f.f) AS gap FROM ud
        |  JOIN f ON f.u = ud.u WHERE ud.d > f.f GROUP BY ud.u),
        |j AS (SELECT f.u, r.gap FROM f LEFT JOIN r ON r.u = f.u)
        |SELECT count(*)::BIGINT AS n_users,
        |  sum(CASE WHEN gap <= 1 THEN 1 ELSE 0 END)::BIGINT AS n_d1,
        |  round(sum(CASE WHEN gap <= 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 4) AS rate_d1,
        |  sum(CASE WHEN gap <= 7 THEN 1 ELSE 0 END)::BIGINT AS n_d7,
        |  round(sum(CASE WHEN gap <= 7 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 4) AS rate_d7,
        |  sum(CASE WHEN gap <= 28 THEN 1 ELSE 0 END)::BIGINT AS n_d28,
        |  round(sum(CASE WHEN gap <= 28 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 4) AS rate_d28
        |FROM j""".stripMargin),

    // Funnel A/B: view→click→purchase conversion per parity cohort
    // with per-step two-proportion z
    Query("q251_funnel_ab", (s, d) =>
      graft.operators.EventAnalytics.funnelAbTest(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        (col("user_id") % 2) === 1),
      // Funnel-A/B replay: q35 chain + per-step pooled-p̂ z (q176 formula)
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts)
        |    AS us, (CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g
        |  FROM events),
        |coh AS (SELECT DISTINCT u, g FROM e),
        |s1 AS (SELECT u, min(us) AS t1 FROM e WHERE t = 'view'
        |  GROUP BY u),
        |s2 AS (SELECT e.u, s1.t1, min(us) AS t2 FROM e
        |  JOIN s1 ON e.u = s1.u WHERE t = 'click' AND us > t1
        |  GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, s2.t2, min(us) AS t3 FROM e
        |  JOIN s2 ON e.u = s2.u WHERE t = 'purchase' AND us > t2
        |  GROUP BY e.u, s2.t2),
        |rc AS (SELECT u, 1 AS step FROM s1
        |  UNION ALL SELECT u, 2 FROM s2 UNION ALL SELECT u, 3 FROM s3),
        |ps AS (SELECT step,
        |    sum(CASE WHEN coh.g = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN coh.g = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM rc JOIN coh ON coh.u = rc.u GROUP BY step),
        |t1 AS (SELECT n_a AS ta, n_b AS tb FROM ps WHERE step = 1)
        |SELECT ps.step, ps.n_a, ps.n_b,
        |  round(ps.n_a::DOUBLE / t1.ta::DOUBLE, 4) AS conv_a,
        |  round(ps.n_b::DOUBLE / t1.tb::DOUBLE, 4) AS conv_b,
        |  CASE WHEN ps.step = 1 THEN NULL ELSE
        |    round((ps.n_a::DOUBLE / t1.ta::DOUBLE
        |        - ps.n_b::DOUBLE / t1.tb::DOUBLE)
        |      / sqrt(((ps.n_a + ps.n_b)::DOUBLE / (t1.ta + t1.tb)::DOUBLE)
        |        * (1.0::DOUBLE
        |          - (ps.n_a + ps.n_b)::DOUBLE / (t1.ta + t1.tb)::DOUBLE)
        |        * (1.0::DOUBLE / t1.ta::DOUBLE
        |          + 1.0::DOUBLE / t1.tb::DOUBLE)), 4) END AS z_stat
        |FROM ps CROSS JOIN t1""".stripMargin),

    // Order-of-magnitude inter-event gap histogram (digit buckets —
    // zero FP)
    Query("q252_gap_histogram", (s, d) =>
      graft.operators.EventAnalytics.gapMagnitudeHistogram(
        Tables.events(s, d), "user_id", "ts", "event_id"),
      // Gap-histogram replay: same digit buckets (string length — no
      // log10 anywhere)
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id
        |    AS id FROM events),
        |g AS (SELECT k, us, id,
        |    lead(us) OVER (PARTITION BY k ORDER BY us, id) AS nxt
        |  FROM e),
        |gp AS (SELECT (nxt - us) // 1000000 AS gap FROM g
        |  WHERE nxt IS NOT NULL)
        |SELECT (CASE WHEN gap <= 0 THEN 0
        |    ELSE length(gap::VARCHAR) END)::INT AS magnitude,
        |  count(*)::BIGINT AS n_gaps, min(gap)::BIGINT AS min_gap_s,
        |  max(gap)::BIGINT AS max_gap_s
        |FROM gp GROUP BY 1""".stripMargin),

    // Windowed funnel: view→click→purchase where each step lands within
    // 24h of the previous completion (the realistic conversion window)
    Query("q174_windowed_funnel", (s, d) => {
      val us = unix_micros(col("ts"))
      val base = Tables.events(s, d)
        .select(col("user_id").as("u"), col("event_type").as("t"), us.as("us"))
      val window = 86400000000L
      val s1 = base.filter(col("t") === "view")
        .groupBy(col("u")).agg(min(col("us")).as("t1"))
      val s2 = base.filter(col("t") === "click").join(s1, Seq("u"))
        .filter(col("us") > col("t1") && col("us") <= col("t1") + window)
        .groupBy(col("u"), col("t1")).agg(min(col("us")).as("t2"))
      val s3 = base.filter(col("t") === "purchase").join(s2, Seq("u"))
        .filter(col("us") > col("t2") && col("us") <= col("t2") + window)
        .groupBy(col("u"), col("t2")).agg(min(col("us")).as("t3"))
      val r1 = s1.agg(count(lit(1)).as("users")).select(lit(1).as("step"), col("users"))
      val r2 = s2.agg(count(lit(1)).as("users")).select(lit(2).as("step"), col("users"))
      val r3 = s3.agg(count(lit(1)).as("users")).select(lit(3).as("step"), col("users"))
      r1.unionAll(r2).unionAll(r3)
    },
      // Windowed-funnel replay: same 24h-bounded strict-after chain
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
        |  FROM events),
        |s1 AS (SELECT u, min(us) AS t1 FROM e WHERE t = 'view' GROUP BY u),
        |s2 AS (SELECT e.u, s1.t1, min(us) AS t2 FROM e JOIN s1 ON e.u = s1.u
        |  WHERE t = 'click' AND us > t1 AND us <= t1 + 86400000000
        |  GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, s2.t2, min(us) AS t3 FROM e JOIN s2 ON e.u = s2.u
        |  WHERE t = 'purchase' AND us > t2 AND us <= t2 + 86400000000
        |  GROUP BY e.u, s2.t2)
        |SELECT 1 AS step, count(*)::BIGINT AS users FROM s1
        |UNION ALL SELECT 2, count(*)::BIGINT FROM s2
        |UNION ALL SELECT 3, count(*)::BIGINT FROM s3""".stripMargin),

    // Chi-square independence: is event_type associated with the user
    // cohort (user_id mod 5)? Exact margins, ordered cell fold, 4dp
    Query("q172_chi_square", (s, d) =>
      graft.operators.EventAnalytics.chiSquare(
        Tables.events(s, d)
          .select(col("event_type"), (col("user_id") % 5).as("cohort")),
        "event_type", "cohort"),
      // Chi-square replay: same margins/expected/fold order, ::DOUBLE on
      // the quotient chain
      """WITH cells AS (SELECT event_type AS r, (user_id % 5)::VARCHAR AS c,
        |    count(*) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o) AS rt FROM cells GROUP BY r),
        |ct AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
        |n AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |fl AS (SELECT rt.r, ct.c, coalesce(cells.o, 0) AS o,
        |    (rt.rt * ct.ct)::DOUBLE / n.n AS e, n.n
        |  FROM rt CROSS JOIN ct CROSS JOIN n
        |  LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c)
        |SELECT
        |  round(list_reduce(list_prepend(0.0,
        |    list((o - e) * (o - e) / e ORDER BY r, c)), (a, b) -> a + b), 4)
        |    AS chi2,
        |  CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS BIGINT)
        |    AS dof,
        |  max(n)::BIGINT AS n
        |FROM fl""".stripMargin),

    // Markov sequence-likelihood: self-trained transition model, each
    // user's event chain scored by mean neg-log-prob (bot/anomaly
    // signal — the q118 LM recipe on behavioral sequences)
    Query("q170_markov_scores", (s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.EventAnalytics.markovScores(ev, ev,
        "user_id", "ts", "event_id", "event_type")
    },
      // Markov replay: the q118 LM recipe on (prev, next) event pairs,
      // (µs, id)-ordered folds, 4dp
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id AS id,
        |    event_type AS t FROM events),
        |p AS (SELECT k, us, id, t,
        |    lag(t) OVER (PARTITION BY k ORDER BY us, id) AS prev FROM e),
        |p2 AS (SELECT * FROM p WHERE prev IS NOT NULL),
        |c2 AS (SELECT prev, t, count(*) AS c2 FROM p2 GROUP BY 1, 2),
        |c1 AS (SELECT prev, count(*) AS c1 FROM p2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT event_type)::DOUBLE AS v FROM events),
        |sc AS (SELECT p2.k, p2.us, p2.id,
        |    ln((coalesce(c2.c2, 0)::DOUBLE + 0.4)
        |      / (coalesce(c1.c1, 0)::DOUBLE + 0.4 * v.v)) AS lp
        |  FROM p2 LEFT JOIN c2 ON p2.prev = c2.prev AND p2.t = c2.t
        |  LEFT JOIN c1 ON p2.prev = c1.prev CROSS JOIN v),
        |a AS (SELECT k, count(*)::BIGINT AS n_transitions,
        |    list_reduce(list_prepend(0.0, list(lp ORDER BY us, id)),
        |      (a, b) -> a + b) AS s
        |  FROM sc GROUP BY k)
        |SELECT k AS user_id, n_transitions,
        |  round(-s / n_transitions::DOUBLE, 4) AS avg_neg_logp
        |FROM a""".stripMargin),

    // Gaps-and-islands per user at the 30-min session gap: island
    // count, in-island active span, longest inactivity gap — exact µs
    Query("q171_gaps_islands", (s, d) =>
      graft.operators.EventAnalytics.gapsAndIslands(Tables.events(s, d),
        "user_id", "ts", gapUs = 1800000000L),
      // Gaps/islands replay: the delta MULTISET of sorted timestamps is
      // tie-order-independent, so the aggregates are exact
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us FROM events),
        |d AS (SELECT k, us,
        |    us - lag(us) OVER (PARTITION BY k ORDER BY us) AS delta FROM e)
        |SELECT k AS user_id, count(*)::BIGINT AS n_events,
        |  (coalesce(sum(CASE WHEN delta > 1800000000 THEN 1 END), 0) + 1)
        |    ::BIGINT AS n_islands,
        |  CAST(coalesce(sum(CASE WHEN delta <= 1800000000 THEN delta END), 0)
        |    AS BIGINT) AS active_us,
        |  CAST(max(CASE WHEN delta > 1800000000 THEN delta END) AS BIGINT)
        |    AS longest_gap_us
        |FROM d GROUP BY k""".stripMargin),

    // Dashboard rollup: per event_type the top-3 users by event count,
    // everyone else collapsed into an 'other' row (rank window over the
    // pre-aggregated counts — never over raw events)
    Query("q168_topk_others", (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val ranked = counts.withColumn("rk",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id"))))
      ranked.groupBy(col("event_type"),
        when(col("rk") <= 3, col("user_id").cast("string"))
          .otherwise(lit("other")).as("who"))
        .agg(sum(col("n")).as("events"))
    },
      // Top-k-with-others replay: same (n DESC, user) rank tie-break
      """WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events
        |  GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT event_type,
        |  CASE WHEN rk <= 3 THEN user_id::VARCHAR ELSE 'other' END AS who,
        |  CAST(sum(n) AS BIGINT) AS events
        |FROM r GROUP BY 1, 2""".stripMargin),

    // PSI distribution drift: first half of January as reference,
    // second half as current; exact reference deciles, smoothed PSI
    Query("q167_psi_drift", (s, d) => {
      val ev = Tables.events(s, d)
      val cutoff = lit("2024-01-16").cast("timestamp")
      graft.operators.EventAnalytics.psiDrift(
        ev.filter(col("ts") < cutoff), ev.filter(col("ts") >= cutoff),
        "event_type", "value")
    },
      // PSI replay: identical decile rank targets, strict-smaller bin
      // assignment, ::DOUBLE-cast smoothing (the decimal-literal pitfall),
      // bin-ordered fold, 4dp
      {
      val targets = (1 until 10).map(j => s"($j * n + 9) // 10").mkString(", ")
      s"""WITH refs AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
         |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'),
         |curs AS (SELECT event_type AS g, value::DOUBLE AS v FROM events
         |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
         |rr AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         |    count(*) OVER (PARTITION BY g) AS n FROM refs),
         |bs AS (SELECT g, list(v ORDER BY v) AS bs FROM rr
         |  WHERE rn IN ($targets) GROUP BY g),
         |rb AS (SELECT r.g, len(list_filter(b.bs, x -> r.v > x)) + 1 AS bin
         |  FROM refs r JOIN bs b USING (g)),
         |cb AS (SELECT c.g, len(list_filter(b.bs, x -> c.v > x)) + 1 AS bin
         |  FROM curs c JOIN bs b USING (g)),
         |rc AS (SELECT g, bin, count(*) AS ref_n FROM rb GROUP BY 1, 2),
         |cc AS (SELECT g, bin, count(*) AS cur_n FROM cb GROUP BY 1, 2),
         |j AS (SELECT coalesce(rc.g, cc.g) AS g,
         |    coalesce(rc.bin, cc.bin) AS bin,
         |    coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
         |  FROM rc FULL OUTER JOIN cc ON rc.g = cc.g AND rc.bin = cc.bin),
         |t AS (SELECT g, sum(ref_n)::BIGINT AS rt, sum(cur_n)::BIGINT AS ct
         |  FROM j GROUP BY g),
         |pq AS (SELECT j.g, j.bin,
         |    (j.ref_n::DOUBLE + 0.5) / (t.rt::DOUBLE + 5.0) AS p,
         |    (j.cur_n::DOUBLE + 0.5) / (t.ct::DOUBLE + 5.0) AS q
         |  FROM j JOIN t ON t.g = j.g),
         |ps AS (SELECT g,
         |    round(list_reduce(list_prepend(0.0,
         |      list((p - q) * ln(p / q) ORDER BY bin)), (a, b) -> a + b), 4)
         |      AS psi
         |  FROM pq GROUP BY g),
         |gs AS (SELECT DISTINCT g FROM
         |  (SELECT g FROM refs UNION ALL SELECT g FROM curs
         |   UNION ALL SELECT event_type FROM events WHERE value IS NULL)
         |  WHERE g IS NOT NULL)
         |SELECT gs.g AS event_type, ps.psi
         |FROM gs LEFT JOIN ps ON ps.g = gs.g""".stripMargin
    }),

    // Per-event-type OLS trend of value vs event-hour — grouped
    // regression, bit-exact (exact DECIMAL moment sums, order-free)
    Query("q160_group_trend", (s, d) =>
      graft.operators.EventAnalytics.groupTrend(Tables.events(s, d),
        "event_type", "ts", "value"),
      // Group-trend replay: same hour x, id-ordered folds, same closed form
      """WITH b AS (SELECT event_type AS g,
        |    (epoch_us(ts) // 3600000000)::BIGINT AS xh,
        |    round(value, 6)::DECIMAL(18,6) AS y
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT g, count(*)::BIGINT AS n,
        |    CAST(SUM(xh::HUGEINT) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(xh::DECIMAL(12,0) * y AS DECIMAL(38,6)))
        |      AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
        |    CAST(SUM((xh * xh)::HUGEINT) AS DOUBLE) AS sxx
        |  FROM b GROUP BY g)
        |SELECT g AS event_type, n,
        |  CASE WHEN n::DOUBLE * sxx - sx * sx <> 0.0 THEN
        |    (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx) END
        |    AS slope,
        |  CASE WHEN n::DOUBLE * sxx - sx * sx <> 0.0 THEN
        |    (sy - (n::DOUBLE * sxy - sx * sy) /
        |      (n::DOUBLE * sxx - sx * sx) * sx) / n::DOUBLE END
        |    AS intercept
        |FROM s""".stripMargin),

    // Per-user EWMA + forecast deviation over event values (α=0.25,
    // binary-exact) — sequential per-key recursion via ordered fold;
    // bit-exact vs the recursive-CTE replay
    Query("q156_ewma", (s, d) =>
      graft.operators.EventAnalytics.ewma(Tables.events(s, d),
        "user_id", "ts", "event_id", "value"),
      // EWMA replay: recursive CTE stepping rn → rn+1 per user with the
      // same (µs, event_id) order and the same binary-exact constants
      ewmaOracleSql),

    // Ordered conversion funnel view→click→purchase: each step's earliest
    // completion strictly after the previous step's (µs order, the
    // q71/q72 time convention)
    Query("q147_funnel", (s, d) =>
      graft.operators.EventAnalytics.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      // Funnel replay: same strict-after chain over epoch_us, same exact
      // integer-quotient conversions and µs-sum mean hours
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
        |  FROM events),
        |s1 AS (SELECT u, min(us) AS t1 FROM e WHERE t = 'view' GROUP BY u),
        |s2 AS (SELECT e.u, s1.t1, min(us) AS t2 FROM e JOIN s1 ON e.u = s1.u
        |  WHERE t = 'click' AND us > t1 GROUP BY e.u, s1.t1),
        |s3 AS (SELECT e.u, s2.t2, min(us) AS t3 FROM e JOIN s2 ON e.u = s2.u
        |  WHERE t = 'purchase' AND us > t2 GROUP BY e.u, s2.t2),
        |r AS (
        |  SELECT 1 AS step, 'view' AS event_type, count(*) AS users,
        |    NULL::BIGINT AS sus FROM s1
        |  UNION ALL SELECT 2, 'click', count(*),
        |    CAST(sum(t2 - t1) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*),
        |    CAST(sum(t3 - t2) AS BIGINT) FROM s3),
        |f AS (SELECT users AS fu FROM r WHERE step = 1)
        |SELECT step, event_type, users::BIGINT AS users,
        |  CASE WHEN fu > 0 THEN users::DOUBLE / fu ELSE 0.0 END
        |    AS conv_from_first,
        |  CASE WHEN users > 0 AND sus IS NOT NULL
        |    THEN sus::DOUBLE / users / 3600000000.0 END AS avg_hours_from_prev
        |FROM r CROSS JOIN f""".stripMargin),

    // Retention cohort triangle: cohort = first-ever event day; exact
    // distinct-user counts per (cohort_day, day_offset)
    Query("q148_retention", (s, d) =>
      graft.operators.EventAnalytics.retentionCohorts(Tables.events(s, d),
        "user_id", "ts"),
      // Retention replay: day-truncated cohorts, exact distinct counts
      """WITH e AS (SELECT user_id AS u, ts::DATE AS d FROM events),
        |c AS (SELECT u, min(d) AS cohort_day FROM e GROUP BY u)
        |SELECT cohort_day, date_diff('day', cohort_day, d)::INT AS day_offset,
        |  count(DISTINCT e.u)::BIGINT AS active_users
        |FROM e JOIN c ON e.u = c.u GROUP BY 1, 2""".stripMargin),

    // First-order event-transition matrix: per-user consecutive pairs in
    // (µs, event_id) order; P(next|prev) an exact integer quotient
    Query("q149_transitions", (s, d) =>
      graft.operators.EventAnalytics.transitionMatrix(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type"),
      // Transition replay: identical (us, event_id) lag order
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id AS id,
        |    event_type AS t FROM events),
        |p AS (SELECT u, t, lag(t) OVER (PARTITION BY u ORDER BY us, id)
        |    AS prev FROM e),
        |c AS (SELECT prev, t AS next, count(*) AS cnt FROM p
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev, sum(cnt) AS tot FROM c GROUP BY 1)
        |SELECT c.prev, c.next, c.cnt::BIGINT AS cnt,
        |  c.cnt::DOUBLE / tot AS p_next
        |FROM c JOIN tot USING (prev)""".stripMargin))
}
