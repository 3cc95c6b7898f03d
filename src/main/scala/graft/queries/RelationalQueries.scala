package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Shared._

/** Relational operators over the star schema: aggregation, joins (broadcast,
  * multiway, semi/anti, range, as-of, salted, bucketed), windows, grouping sets,
  * set operations, scalar sweeps, sketches and the TPC-H shapes.
  */
object RelationalQueries {

  /** Canonical temp views named exactly like the parquet tables, so a
    * dialect-portable SQL text runs verbatim on Spark AND as the DuckDB
    * oracle — one source of truth, zero translation drift.
    */
  private def onCanonicalViews(s: SparkSession, d: String, sql: String): DataFrame = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(tb => t(s, d, tb).createOrReplaceTempView(tb))
    s.sql(sql)
  }

  // TPC-H shapes in dialect-portable ANSI SQL (identical text both
  // engines). Decimal discipline: exact DECIMAL arithmetic sized to stay
  // under precision 38 on both engines (no engine rescale-rounding),
  // DOUBLE casts only at output or for strict-inequality thresholds.
  // Q4/Q12/Q13/Q15/Q11/Q2/Q8/Q9/Q16 — adapted to this schema (no
  // partsupp/shipmode/commitdate: lineitem is the part-supplier bridge,
  // l_returnflag stands in for lateness/shipmode, p_retailprice for
  // ps_supplycost).

  // Q4: EXISTS semi-join under a date-range scan, priority rollup
  private val tpchQ4 =
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin

  // Q12: two-value IN filter + conditional counts over a fact-fact join
  private val tpchQ12 =
      """SELECT l_returnflag AS flag_mode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('R', 'A')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin

  // Q13: left outer join with ON-clause predicate + count distribution
  private val tpchQ13 =
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin

  // Q15: aggregate CTE + scalar MAX subquery over it, joined back
  private val tpchQ15 =
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS max_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin

  // Q11: grouped value share vs an uncorrelated global scalar threshold
  private val tpchQ11 =
      """WITH supval AS (
        |  SELECT l_partkey AS ps_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,2))) AS val
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 0
        |  GROUP BY l_partkey)
        |SELECT ps_partkey, CAST(val AS DOUBLE) AS value
        |FROM supval
        |WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM supval)""".stripMargin

  // Q2: correlated MIN subquery repeating the outer's region restriction
  private val tpchQ2 =
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_name, l_extendedprice AS min_price
        |FROM part, supplier, lineitem, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size = 15
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  AND l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')""".stripMargin

  // Q8: market share — 7-table join, two nation roles, case-sum ratio
  private val tpchQ8 =
      """WITH allnations AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(12,4))) AS volume,
        |    n2.n_name AS nation
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE) AS nation_volume,
        |  CAST(SUM(volume) AS DOUBLE) AS total_volume,
        |  CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        |FROM allnations GROUP BY o_year""".stripMargin

  // Q9: profit rollup by nation × year (p_retailprice as unit cost)
  private val tpchQ9 =
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(12,4)))
        |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%a%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin

  // Q16: NOT IN (null-aware anti join) + COUNT(DISTINCT) rollup
  private val tpchQ16 =
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type""".stripMargin

  val all: Seq[Query] = Seq(
    // A4/A6 + P2: grouped aggregation sweep (TPC-H Q1 shape)
    Query("q01_pricing_summary", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity"), 2).as("sum_qty"),
          decSum(col("l_extendedprice"), 4).as("sum_base_price"),
          (decSum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // A1/A2: duplicate counts (count - count distinct), single + composite key
    Query("q02_dup_count", (s, d) =>
      t(s, d, "orders").agg(
        (count(lit(1)) - count_distinct(col("o_custkey"))).as("dup_by_cust"),
        (count(lit(1)) - count_distinct(col("o_custkey"), col("o_orderdate")))
          .as("dup_by_cust_date")),
      """SELECT count(*) - count(DISTINCT o_custkey) AS dup_by_cust,
        | count(*) - count(DISTINCT (o_custkey, o_orderdate)) AS dup_by_cust_date
        |FROM orders""".stripMargin),

    // A3/A4: one-pass per-column null audit
    Query("q03_null_audit", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      val aggs = count(lit(1)).as("total_rows") +:
        cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
      t(s, d, "lineitem").agg(aggs.head, aggs.tail: _*)
    },
      // Every integer sum is CAST AS BIGINT: DuckDB sum() over ints is
      // HUGEINT, which pandas renders as float64 and the driver's dtype-
      // sensitive hash then rejects against Spark's int64.
      """SELECT count(*) AS total_rows,
        | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity,
        | CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_extendedprice,
        | CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_discount,
        | CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_tax,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_shipdate
        |FROM lineitem""".stripMargin),

    // A5/A6: global min/max + count
    Query("q04_minmax", (s, d) =>
      t(s, d, "orders").agg(
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("max_date"),
        count(lit(1)).as("total_rows")),
      """SELECT strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
        | strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
        | count(*) AS total_rows
        |FROM orders""".stripMargin),

    // F4/A7/S12: quality-audit shape — range-constraint anomaly counts + rate
    Query("q05_quality_audit", (s, d) => {
      def anom(c: String, lo: Double, hi: Double) =
        sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L).otherwise(0L))
      t(s, d, "lineitem").agg(
        count(lit(1)).as("total_rows"),
        anom("l_quantity", 1, 50).as("anom_qty"),
        anom("l_discount", 0, 0.05).as("anom_disc"),
        anom("l_tax", 0, 0.04).as("anom_tax"),
        round((anom("l_quantity", 1, 50) + anom("l_discount", 0, 0.05)
          + anom("l_tax", 0, 0.04)).cast("double") / count(lit(1)) * 100, 4)
          .as("error_rate_pct"))
    },
      """SELECT count(*) AS total_rows,
        | CAST(sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS anom_qty,
        | CAST(sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.05) THEN 1 ELSE 0 END) AS BIGINT) AS anom_disc,
        | CAST(sum(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.04) THEN 1 ELSE 0 END) AS BIGINT) AS anom_tax,
        | round((sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.05) THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.04) THEN 1 ELSE 0 END))::DOUBLE
        |   / count(*) * 100, 4) AS error_rate_pct
        |FROM lineitem""".stripMargin),

    // Join (broadcast dim) + grouped agg
    Query("q10_join_broadcast", (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("revenue")),
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // Multiway join: fact-fact shuffle join + broadcast dim
    Query("q11_join_multiway", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          // exact decimal sum, surfaced as its full-scale string: decimal
          // rescale/double-cast behavior differs between engines (Spark
          // rounds, DuckDB truncates; int128→double isn't correctly
          // rounded), but the scale-10 decimal itself is exact in both
          sum((col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1.0) - col("l_discount")).cast("decimal(8,6)")))
            .cast("decimal(38,10)").cast("string").as("revenue"))
    },
      """SELECT c_mktsegment, o_orderpriority, count(*) AS n_lines,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority""".stripMargin),

    // Left-semi join (EXISTS)
    Query("q12_semi_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")),
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // Left-anti join (NOT EXISTS): customers with no recent order
    Query("q13_anti_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")),
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_mktsegment""".stripMargin),

    // Window: ranking (top-n per group)
    Query("q14_window_topn", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3""".stripMargin),

    // Grouping sets: rollup
    Query("q16_rollup", (s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin),

    // Sort + limit (TakeOrderedAndProject)
    Query("q17_topk", (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(100),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // Set op: EXCEPT (distinct): in-debt customers with no jumbo order
    Query("q18_except", (s, d) =>
      t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("k"))
        .except(t(s, d, "orders").filter(col("o_totalprice") > 450000)
          .select(col("o_custkey").as("k"))),
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000""".stripMargin),

    // Set op: INTERSECT (distinct): in-debt customers WITH a jumbo order
    Query("q19_intersect", (s, d) =>
      t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("k"))
        .intersect(t(s, d, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("k"))),
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
        |INTERSECT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000""".stripMargin),

    // U1: union-all + grouped count
    Query("q20_union", (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .unionByName(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n")),
      """SELECT nationkey, count(*) AS n FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
        |GROUP BY nationkey""".stripMargin),

    // Exact full-row dedup (DISTINCT *)
    Query("q24_dedup_distinct", (s, d) =>
      t(s, d, "lineitem").distinct().agg(count(lit(1)).as("n_distinct")),
      "SELECT count(*) AS n_distinct FROM (SELECT DISTINCT * FROM lineitem)"),

    // Approximate distinct (HLL++). Oracle-checked via an error-bound
    // contract: exact counts must match DuckDB exactly, and the HLL
    // estimate must sit within 10% relative error (observed ≤3.7% at the
    // default rsd=0.05; deterministic for fixed input). The approx values
    // themselves are emitted rows-only-style nowhere — only the bound.
    Query("q33_approx_distinct", (s, d) => {
      def within(approx: Column, exact: Column): Column =
        abs(approx.cast("double") - exact) <= exact * lit(0.10)
      t(s, d, "lineitem").agg(
        count_distinct(col("l_partkey")).as("exact_parts"),
        count_distinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"))
        .select(
          col("exact_parts"), col("exact_orders"),
          within(col("ap"), col("exact_parts")).as("parts_within_10pct"),
          within(col("ao"), col("exact_orders")).as("orders_within_10pct"))
    },
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | TRUE AS parts_within_10pct, TRUE AS orders_within_10pct
        |FROM lineitem""".stripMargin),

    // As-of join: latest purchase value per user at each event time.
    // Compared at µs (ts_us) — the DuckDB oracle's ASOF sees µs-truncated
    // timestamps, so both engines must match at the same precision.
    Query("q36_asof_join", (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      graft.operators.AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts_us"), purchases,
        keys = Seq("user_id"), leftTs = "ts_us", rightTs = "ts_us",
        rightPayload = Seq(("value", "last_purchase_value")))
        .select("event_id", "last_purchase_value")
    },
      """SELECT l.event_id, r.value AS last_purchase_value
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // Range join: lineitems shipped within 60 days of their order date
    Query("q37_range_join", (s, d) =>
      t(s, d, "orders").join(t(s, d, "lineitem"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("interval 60 days"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders JOIN lineitem
        | ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderpriority""".stripMargin),

    // Scalar string-function sweep
    Query("q38_string_funcs", (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        length(col("c_name")).as("name_len"),
        reverse(col("c_name")).as("rev"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("digits"),
        element_at(split(col("c_name"), "#"), 2).as("num_part"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined")),
      """SELECT c_custkey,
        | upper(c_name) AS uname,
        | substr(c_name, 1, 8) AS prefix,
        | lpad(c_custkey::VARCHAR, 8, '0') AS padded,
        | length(c_name) AS name_len,
        | reverse(c_name) AS rev,
        | regexp_extract(c_name, '(\d+)', 1) AS digits,
        | string_split(c_name, '#')[2] AS num_part,
        | concat_ws('-', c_mktsegment, c_name) AS joined
        |FROM customer""".stripMargin),

    // Scalar math + bit-op sweep (exactly-rounded ops only)
    Query("q39_math_funcs", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 250000.0).as("abs_diff"),
        ceil(col("o_totalprice")).cast("long").as("ceiled"),
        floor(col("o_totalprice")).cast("long").as("floored"),
        sqrt(col("o_totalprice")).as("sq"),
        (col("o_totalprice") * col("o_totalprice")).as("squared"),
        greatest(col("o_totalprice"), lit(100000.0)).as("hi"),
        least(col("o_totalprice"), lit(100000.0)).as("lo"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("bxor"),
        shiftleft(col("o_orderkey"), 2).as("shifted"),
        pmod(col("o_orderkey"), lit(7L)).as("m7")),
      """SELECT o_orderkey,
        | abs(o_totalprice - 250000.0) AS abs_diff,
        | CAST(ceil(o_totalprice) AS BIGINT) AS ceiled,
        | CAST(floor(o_totalprice) AS BIGINT) AS floored,
        | sqrt(o_totalprice) AS sq,
        | o_totalprice * o_totalprice AS squared,
        | greatest(o_totalprice, 100000.0) AS hi,
        | least(o_totalprice, 100000.0) AS lo,
        | o_orderkey & 255 AS band,
        | xor(o_orderkey, o_custkey) AS bxor,
        | o_orderkey << 2 AS shifted,
        | o_orderkey % 7 AS m7
        |FROM orders""".stripMargin),

    // Scalar date-function sweep
    Query("q40_date_funcs", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("q"),
        (weekday(col("o_orderdate")) + 1).as("isodow"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("som")),
      """SELECT o_orderkey,
        | year(o_orderdate) AS y,
        | month(o_orderdate) AS m,
        | dayofmonth(o_orderdate) AS dom,
        | quarter(o_orderdate) AS q,
        | isodow(o_orderdate) AS isodow,
        | datediff('day', DATE '1995-01-01', o_orderdate) AS days_since,
        | strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        | strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS som
        |FROM orders""".stripMargin),

    // Statistical aggregates
    Query("q41_stats", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        (decSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price")),
      """SELECT l_returnflag,
        | count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
        | round(stddev_samp(l_extendedprice), 2) AS sd_price,
        | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        | min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Misc aggregates: conditional count, arg-max, bool_or, sorted set,
    // distinct sum. The set is concat_ws-serialized: the driver harness
    // sorts output columns in pandas, which dies on array cells — no
    // query may emit a top-level ArrayType (SparkEntrySpec enforces).
    Query("q42_agg_misc", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus")).agg(
        sum(when(col("o_totalprice") > 250000, 1L).otherwise(0L)).as("n_big"),
        expr("max_by(o_orderkey, o_totalprice)").as("top_order"),
        expr("bool_or(o_totalprice > 400000)").as("has_jumbo"),
        concat_ws(",", sort_array(collect_set(col("o_orderpriority")))).as("priorities"),
        sum_distinct(col("o_custkey")).as("sum_dist_cust")),
      """SELECT o_orderstatus,
        | CAST(sum(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        | arg_max(o_orderkey, o_totalprice) AS top_order,
        | bool_or(o_totalprice > 400000) AS has_jumbo,
        | array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
        | CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_dist_cust
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // Pivot (conditional aggregation re-shape)
    Query("q43_pivot", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P")).agg(count(lit(1))),
      """SELECT o_orderpriority,
        | count(*) FILTER (o_orderstatus = 'F') AS "F",
        | count(*) FILTER (o_orderstatus = 'O') AS "O",
        | count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // Exact interpolated percentiles
    Query("q46_percentiles", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90")),
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Salted skew join — must produce exactly the plain-join result
    Query("q48_salted_join", (s, d) => {
      val fact = t(s, d, "orders").select(col("o_custkey").as("k"), col("o_totalprice"))
      val dim = t(s, d, "customer").select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedEquiJoin(fact, dim, "k", saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("revenue"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // TPC-H Q6 shape: forecast revenue (filter-only scan-agg; every
    // predicate pushes to parquet)
    Query("q49_tpch_q6", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast("decimal(18,4)") *
          col("l_discount").cast("decimal(8,6)")))
          .cast("decimal(38,10)").cast("string").as("revenue"),
          count(lit(1)).as("n")),
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin),

    // TPC-H Q3 shape: top-10 unshipped-order revenue
    Query("q50_tpch_q3", (s, d) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1.0) - col("l_discount")).cast("decimal(8,6)")))
          .cast("decimal(38,10)").as("__rev"))
        .orderBy(col("__rev").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("__rev").cast("string").as("revenue"))
    },
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: revenue by nation within a region, local suppliers
    Query("q51_tpch_q5", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1.0) - col("l_discount")).cast("decimal(8,6)")))
          .cast("decimal(38,10)").cast("string").as("revenue")),
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // Grouping sets: CUBE with grouping_id
    Query("q55_cube", (s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), grouping_id().as("gid")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        | GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),

    // Ordered string aggregation (listagg-equivalent, deterministic)
    Query("q57_listagg", (s, d) =>
      t(s, d, "nation").join(t(s, d, "region"),
        col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations")),
      """SELECT r_name,
        | array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins on the fact table
    // (the classic decorrelation stress — each quantifier becomes a
    // semi/anti join on l_orderkey). "Late" is adapted to l_returnflag='R'
    // (testdata has no commit/receipt dates); the quantifier structure is
    // the point.
    Query("q85_tpch_q21", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v85")
      t(s, d, "orders").createOrReplaceTempView("orders_v85")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v85")
      t(s, d, "nation").createOrReplaceTempView("nation_v85")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier_v85, lineitem_v85 l1, orders_v85, nation_v85
          |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem_v85 l2
          |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_v85 l3
          |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_returnflag = 'R')
          |  AND s_nationkey = n_nationkey
          |GROUP BY s_name""".stripMargin)
    },
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |GROUP BY s_name""".stripMargin),

    // TPC-H Q17 shape: correlated scalar aggregate (per-part average)
    // under a fact-dim join — decorrelates to an aggregate + re-join.
    // Container predicate adapted to p_size (testdata has no p_container).
    Query("q86_tpch_q17", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v86")
      t(s, d, "part").createOrReplaceTempView("part_v86")
      s.sql(
        """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,10)) AS STRING) AS small_qty_revenue,
          |  count(*) AS n
          |FROM lineitem_v86 JOIN part_v86 ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#1' AND p_size < 10
          |  AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
          |    FROM lineitem_v86 l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
    },
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,10)) AS VARCHAR) AS small_qty_revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1' AND p_size < 10
        |  AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // TPC-H Q20 shape: nested IN subqueries with a correlated aggregate
    // in HAVING (share-of-part threshold stands in for the partsupp
    // availqty comparison — the testdata has no partsupp table).
    Query("q87_tpch_q20", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v87")
      t(s, d, "part").createOrReplaceTempView("part_v87")
      t(s, d, "supplier").createOrReplaceTempView("supplier_v87")
      t(s, d, "nation").createOrReplaceTempView("nation_v87")
      s.sql(
        """SELECT s_name, s_acctbal
          |FROM supplier_v87 JOIN nation_v87 ON s_nationkey = n_nationkey
          |WHERE s_suppkey IN (
          |  SELECT l1.l_suppkey FROM lineitem_v87 l1
          |  WHERE l1.l_partkey IN (SELECT p_partkey FROM part_v87 WHERE p_name LIKE 'small%')
          |  GROUP BY l1.l_suppkey, l1.l_partkey
          |  HAVING SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) > 0.15 * (
          |    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem_v87 l2
          |    WHERE l2.l_partkey = l1.l_partkey))""".stripMargin)
    },
      """SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l1.l_suppkey FROM lineitem l1
        |  WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY l1.l_suppkey, l1.l_partkey
        |  HAVING SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) > 0.15 * (
        |    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
        |    WHERE l2.l_partkey = l1.l_partkey))""".stripMargin),

    // SpaceSaving over STRING keys: capacity (200) above the key
    // cardinality (~97 lang|source combos) means no eviction ever
    // happens, so the sketch IS the exact count table (est = true count,
    // err = 0) deterministically on any partitioning — the string-key
    // surface gets a hash-exact oracle, while q109 contract-checks the
    // eviction/merge bounds under skew on long keys.
    Query("q113_heavy_hitters_str", (s, d) => {
      val keyed = t(s, d, "documents")
        .select(concat(col("lang"), lit("|"), col("source")).as("k"))
      keyed
        .agg(graft.functions.SpaceSavingSketch.spaceSavingTopK(col("k"), 200).as("hh"))
        .select(explode(col("hh")).as("x"))
        .select(col("x.item").as("item"), col("x.est").as("est"),
          col("x.err").as("err"))
    },
      // capacity > cardinality ⇒ the sketch is exactly the group-by table
      """SELECT lang || '|' || source AS item, count(*)::BIGINT AS est,
        | 0::BIGINT AS err
        |FROM documents GROUP BY 1""".stripMargin),

    // TPC-H Q22 shape: IN-list filter + uncorrelated scalar AVG subquery
    // + NOT EXISTS anti-join + aggregate (cntrycode adapted to nationkey;
    // the testdata customer has no phone column).
    Query("q88_tpch_q22", (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v88")
      t(s, d, "orders").createOrReplaceTempView("orders_v88")
      s.sql(
        """SELECT c_nationkey AS cntry, count(*) AS numcust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM customer_v88
          |WHERE c_nationkey IN (0, 1, 2, 3, 4)
          |  AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer_v88
          |    WHERE c_acctbal > 0 AND c_nationkey IN (0, 1, 2, 3, 4))
          |  AND NOT EXISTS (SELECT 1 FROM orders_v88
          |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey""".stripMargin)
    },
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (0, 1, 2, 3, 4)
        |  AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer
        |    WHERE c_acctbal > 0 AND c_nationkey IN (0, 1, 2, 3, 4))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin),

    // Unpivot / melt (wide → long re-shape)
    Query("q60_unpivot", (s, d) =>
      t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), decSum(col("value"), 4).as("s")),
      """SELECT metric, count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s
        |FROM (
        | SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        | UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        | UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem)
        |GROUP BY metric""".stripMargin),

    // Forward as-of: next purchase value at-or-after each event
    Query("q63_asof_forward", (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      graft.operators.AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts_us"), purchases,
        keys = Seq("user_id"), leftTs = "ts_us", rightTs = "ts_us",
        rightPayload = Seq(("value", "next_purchase_value")),
        direction = "forward")
        .select("event_id", "next_purchase_value")
    },
      """SELECT l.event_id, r.value AS next_purchase_value
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin),

    // Native custom-operator as-of (AsOfJoinExec: LogicalPlan + Strategy +
    // streaming-merge SparkPlan) — same oracle as q36
    Query("q64_asof_native", (s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      graft.operators.AsOfJoin.asOfNative(
        ev.select("event_id", "user_id", "ts_us"), purchases,
        keys = Seq("user_id"), leftTs = "ts_us", rightTs = "ts_us",
        rightPayload = Seq(("value", "last_purchase_value")))
        .select("event_id", "last_purchase_value")
    },
      """SELECT l.event_id, r.value AS last_purchase_value
        |FROM events l ASOF LEFT JOIN
        | (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // String-distance / manipulation scalar sweep
    Query("q67_string_distance", (s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        levenshtein(col("p_name"), col("p_type")).as("lev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
        repeat(col("p_brand"), 2).as("rep"),
        ascii(col("p_name")).as("first_code"),
        substring(col("p_name"), 1, 4).as("l4"),
        col("p_name").contains("widget").as("has_widget"),
        col("p_name").startsWith("cold").as("is_cold"),
        col("p_type").endsWith("O").as("ends_o")),
      """SELECT p_partkey,
        | levenshtein(p_name, p_type) AS lev,
        | translate(p_name, 'aeiou', 'AEIOU') AS tr,
        | repeat(p_brand, 2) AS rep,
        | ascii(p_name) AS first_code,
        | substr(p_name, 1, 4) AS l4,
        | contains(p_name, 'widget') AS has_widget,
        | starts_with(p_name, 'cold') AS is_cold,
        | ends_with(p_type, 'O') AS ends_o
        |FROM part""".stripMargin),

    // Custom TypedImperativeAggregate: deterministic bottom-k-by-hash
    // sketch (KMV sample + distinct estimator; merge-order independent,
    // so rows-only determinism holds by construction)
    Query("q68_bottomk_sketch", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.BottomKSketch.bottomK(
          col("o_custkey").cast("string"), 16).as("sketch"))
        .select(col("o_orderstatus"), explode(col("sketch")).as("e"))
        .select(col("o_orderstatus"), col("e.hash").as("hash"),
          col("e.value").as("custkey")),
      // KMV sketch: bottom-16 SIGNED splitmix64(FNV) hashes of the distinct
      // custkey strings per group — deterministic, so replayable exactly.
      s"""WITH h AS (SELECT DISTINCT o_orderstatus, o_custkey::VARCHAR AS custkey FROM orders),
         |${mix64Chain("f", "h", fnvSql("custkey"), Seq("o_orderstatus", "custkey"))},
         |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus ORDER BY hash) AS rn FROM f)
         |SELECT o_orderstatus, hash, custkey FROM r WHERE rn <= 16""".stripMargin),

    // Correlated scalar subquery through the SQL surface. The per-customer
    // mean goes through an exact decimal sum (raw AVG(double) is
    // aggregation-order-dependent and can flip boundary rows vs the oracle)
    Query("q69_correlated_subquery", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o.o_orderkey FROM orders_v o
          |WHERE o.o_totalprice > 2 * (
          |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          |  FROM orders_v o2
          |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    },
      """SELECT o.o_orderkey FROM orders o
        |WHERE o.o_totalprice > 2 * (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin),

    // Explicit GROUPING SETS (beyond rollup/cube)
    Query("q70_grouping_sets", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v2")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
          |FROM orders_v2
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

    // Histogram bucketing (width_bucket) + per-bucket aggregates
    Query("q73_width_bucket", (s, d) =>
      t(s, d, "orders")
        .groupBy(width_bucket(col("o_totalprice"), lit(0.0), lit(500000.0), lit(10))
          .as("bucket"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total")),
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |   WHEN o_totalprice >= 500000.0 THEN 11
        |   ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
        | count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin),

    // TPC-H Q18 shape (large-volume orders): aggregate-filtered semi join
    // — the HAVING subquery becomes a broadcast-able keys frame
    Query("q79_tpch_q18", (s, d) => {
      val li = t(s, d, "lineitem")
      val bigOrders = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
        .filter(col("total_qty") > 150)
      t(s, d, "orders")
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
    },
      """SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        | o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // TPC-H Q19 shape: disjunction of brand/size/quantity conjuncts —
    // exercises OR-of-ANDs pushdown through a broadcast join
    Query("q80_tpch_q19", (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 5) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
            col("l_quantity") >= 20))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1.0) - col("l_discount")).cast("decimal(8,6)")))
            .cast("decimal(38,10)").cast("string").as("revenue"),
          count(lit(1)).as("n")),
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)""".stripMargin),

    // TPC-H Q7 shape (volume shipping): bi-national flows by ship year,
    // two broadcast nation lookups with distinct roles
    Query("q81_tpch_q7", (s, d) => {
      val n1 = t(s, d, "nation").select(
        col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation").select(
        col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n1), col("s_nkey") === col("s_nationkey"))
        .join(broadcast(n2), col("c_nkey") === col("c_nationkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1.0) - col("l_discount")).cast("decimal(8,6)")))
          .cast("decimal(38,10)").cast("string").as("revenue"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate) AS l_year,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin),

    // Approx-percentile sketch contract (the 100 TB quantile path — exact
    // percentile sorts/collects per group). The GK sketch guarantees rank
    // error <= n/accuracy; the check counts actual rows below the approx
    // median and bounds the rank deviation at 10x the guarantee (slop for
    // value ties), so it holds regardless of sketch merge order. Exact
    // medians are oracle-matched; the bound is oracle-pinned TRUE.
    Query("q78_approx_percentile", (s, d) => {
      val li = t(s, d, "lineitem")
      val agg = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_p50"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"))
      val below = li.join(agg.select(col("l_returnflag"), col("ap50")), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("l_extendedprice") < col("ap50"), 1L).otherwise(0L)).as("rank_below"))
      agg.join(below, "l_returnflag")
        .select(col("l_returnflag"), col("exact_p50"),
          (abs(col("rank_below") - col("n") * 0.5) <= col("n") * 0.01 + 1).as("rank_ok"))
    },
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        | TRUE AS rank_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // order/limit ties broken by custkey for determinism
    Query("q82_tpch_q10", (s, d) => {
      val rev = (col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1.0) - col("l_discount")).cast("decimal(8,6)"))
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "R")
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(sum(rev).cast("decimal(38,10)").as("rev"))
        .orderBy(col("rev").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("rev").cast("string").as("revenue"))
    },
      """SELECT c_custkey, c_name, c_mktsegment, CAST(rev AS VARCHAR) AS revenue
        |FROM (
        | SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS rev
        | FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R'
        | GROUP BY c_custkey, c_name, c_mktsegment
        | ORDER BY rev DESC, c_custkey LIMIT 20)""".stripMargin),

    // TPC-H Q14 shape: promo revenue vs total — both sums exact decimal
    // strings (a double ratio would hit the int128->double rounding gap
    // between engines)
    Query("q83_tpch_q14", (s, d) => {
      val rev = (col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1.0) - col("l_discount")).cast("decimal(8,6)"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("p_partkey") === col("l_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,4)")))
            .cast("decimal(38,10)").cast("string").as("promo_revenue"),
          sum(rev).cast("decimal(38,10)").cast("string").as("total_revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT
        | CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,10)) AS VARCHAR) AS promo_revenue,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,10)) AS VARCHAR) AS total_revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey""".stripMargin),

    // Decontamination gate EVALUATED against planted ground truth:
    // every 5th doc is mirrored (case-noised) into a synthetic eval
    // suite, the 8-gram gate flags the corpus, and the confusion report
    // scores the gate itself — recall says planted overlaps are caught,
    // precision prices incidental shared 8-grams
    // Bucketed co-located fact-fact join (SCALE.md rule #2 made a
    // query): lineitem ⋈ orders with BOTH sides bucket-sorted on the
    // order key, so the SMJ runs exchange-free — the only shuffle in
    // the whole plan is the final tiny status rollup (PlanQualitySpec
    // asserts exactly one Exchange). The bucket-table build runs
    // in-query for gate self-containment (the q309/q291 convention);
    // the Bench served lane builds once and times only the join.
    Query("q351_bucketed_join", (s, d) => {
      val tag = s.sparkContext.applicationId.replace("-", "_")
      val lt = s"b_lineitem_$tag"
      val ot = s"b_orders_$tag"
      s.sql(s"DROP TABLE IF EXISTS $lt")
      s.sql(s"DROP TABLE IF EXISTS $ot")
      Tables.lineitem(s, d).write.mode("overwrite")
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("total_qty"))
    },
      // Decontam-eval replay: gram STRINGS stand in for the engine's
      // FNV hashes (the q92 collision-negligible convention), identical
      // truth definition, the q323 confusion shape
      // Bucketed-join replay: layout is an engine-side physical concern —
      // the oracle checks the JOIN SEMANTICS with a plain join-rollup
      """SELECT o_orderstatus, count(*)::BIGINT AS n_items,
        |  CAST(CAST(SUM(l_quantity::DECIMAL(18,2)) AS DECIMAL(38,2))
        |    AS VARCHAR) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // Skew stress lane: a deliberately skewed key (hot key 0 owns the
    // ~30% of events with event_id % 10 < 3 — the first NON-uniform
    // key distribution the skew machinery has faced) driven through the
    // manual remedy chain: salted fact-dim equi-join (dim replicated
    // per salt, saltFactor 16) then per-band aggregation. The oracle
    // replays the same join/agg SALT-FREE — salting must never change
    // the answer, only the shuffle layout.
    Query("q292_skew_stress", (s, d) => {
      val fact = Tables.events(s, d).select(
        when(col("event_id") % 10 < 3, lit(0L))
          .otherwise(col("user_id") + 1L).as("k"),
        col("value"))
      val dim = fact.select(col("k")).distinct()
        .withColumn("band", col("k") % lit(7L))
      graft.operators.SkewJoin.saltedEquiJoin(fact, dim, "k", saltFactor = 16)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_rows"),
          decSum(col("value"), 2).as("total_value"))
    },
      // Skew-stress replay: identical hot-key derivation, join, and agg —
      // WITHOUT salting (the remedy must be answer-invariant)
      """WITH fact AS (SELECT
        |    CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id + 1 END AS k,
        |    value FROM events),
        |dim AS (SELECT DISTINCT k, k % 7 AS band FROM fact)
        |SELECT band, count(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM fact JOIN dim USING (k)
        |GROUP BY band""".stripMargin),

    // Z-order data-skipping audit: file spans under linear-x vs Morton
    // layout on (user_id%256, event_id%256) — the re-cluster-or-not
    // number for two-column pruning on a 100 TB table
    // Non-negative id guard: the oracle's DuckDB % is sign-preserving
    // (negative ids fall out of its %256>=0 filter) while pmod wraps
    // them into [0,255] — filter ids >= 0 on this side so the two row
    // sets agree independent of id sign (round-6 advisory)
    Query("q270_zorder_skipping", (s, d) =>
      graft.operators.ZOrder.skippingAudit(
        Tables.events(s, d)
          .filter(col("user_id") >= 0 && col("event_id") >= 0),
        pmod(col("user_id"), lit(256L)), pmod(col("event_id"), lit(256L)),
        rowsPerFile = 500, bits = 8),
      // Z-order replay: the SAME unrolled Morton interleave terms
      // (generated by one Scala loop for both engines), identical
      // (key, x, y) total order, floor file assignment, span averages
      {
      def zSql(x: String, y: String, bits: Int): String =
        (0 until bits).map(i =>
          s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
      s"""WITH b AS (SELECT (user_id % 256)::BIGINT AS x,
         |    (event_id % 256)::BIGINT AS y FROM events
         |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
         |    AND user_id % 256 >= 0 AND event_id % 256 >= 0),
         |z AS (SELECT x, y, ${zSql("x", "y", 8)} AS z FROM b),
         |lin AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY x, x, y) - 1) // 500 AS f FROM z),
         |zo AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY z, x, y) - 1) // 500 AS f FROM z),
         |ls AS (SELECT f, max(x) - min(x) AS xs, max(y) - min(y) AS ys
         |  FROM lin GROUP BY f),
         |zs AS (SELECT f, max(x) - min(x) AS xs, max(y) - min(y) AS ys
         |  FROM zo GROUP BY f)
         |SELECT 'linear_x' AS strategy, count(*)::BIGINT AS files,
         |  round(avg(xs), 4) AS avg_x_span, round(avg(ys), 4) AS avg_y_span
         |FROM ls
         |UNION ALL
         |SELECT 'zorder' AS strategy, count(*)::BIGINT AS files,
         |  round(avg(xs), 4) AS avg_x_span, round(avg(ys), 4) AS avg_y_span
         |FROM zs""".stripMargin
    }),

    // SCD2 point-in-time lookup: q190's dimension build from the
    // NON-purchase stream (empty [t,t) intervals dropped), then every
    // purchase as-of-joins the state the user was in when buying — the
    // fact-to-slowly-changing-dimension join every warehouse runs;
    // reuses the q36 union-window as-of (backward, equal-ts inclusive)
    Query("q197_scd2_lookup", (s, d) => {
      val ev = Tables.events(s, d)
      val dim = graft.operators.EventAnalytics.scd2Intervals(
          ev.filter(col("event_type") =!= "purchase"),
          "user_id", "ts", "event_id", "event_type")
        .filter(col("valid_to_us").isNull ||
          col("valid_to_us") > col("valid_from_us"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.AsOfJoin.asOf(probes, dim, keys = Seq("user_id"),
        leftTs = "ts_us", rightTs = "valid_from_us",
        rightPayload = Seq(("version", "version"), ("state", "state")))
    },
      // SCD2-lookup replay: q190's run construction on the non-purchase
      // stream, empty-interval drop, then latest valid_from ≤ ts per
      // purchase (valid_from DESC row_number — the as-of backward rule)
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
        |    event_id AS eid, event_type AS state FROM events
        |  WHERE event_type <> 'purchase'),
        |c AS (SELECT k, us, eid, state,
        |    CASE WHEN lag(state) OVER (PARTITION BY k ORDER BY us, eid)
        |      IS DISTINCT FROM state THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |v AS (SELECT k, us, state, (sum(chg) OVER (PARTITION BY k
        |    ORDER BY us, eid ROWS UNBOUNDED PRECEDING))::BIGINT AS version
        |  FROM c),
        |r AS (SELECT k, version, min(state) AS state,
        |    min(us) AS valid_from_us FROM v GROUP BY k, version),
        |iv AS (SELECT k, version, state, valid_from_us,
        |    lead(valid_from_us) OVER (PARTITION BY k ORDER BY version)
        |      AS valid_to_us FROM r),
        |nz AS (SELECT * FROM iv
        |  WHERE valid_to_us IS NULL OR valid_to_us > valid_from_us),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, p.event_id, p.ts_us, nz.version, nz.state,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY nz.valid_from_us DESC) AS rn
        |  FROM p LEFT JOIN nz
        |    ON nz.k = p.user_id AND nz.valid_from_us <= p.ts_us)
        |SELECT user_id, event_id, ts_us, version, state
        |FROM m WHERE rn = 1""".stripMargin),

    // Key-skew audit on event_type: top-5 heavy keys + max/mean skew
    // factor — the pre-flight check for the salted-join family
    Query("q224_key_skew", (s, d) =>
      graft.operators.SkewJoin.keySkewAudit(Tables.events(s, d),
        "event_type"),
      // Key-skew replay: exact per-key counts, same (count DESC, key)
      // rank and single-divide share/factor
      """WITH c AS (SELECT event_type AS k, count(*)::BIGINT AS c
        |  FROM events GROUP BY event_type),
        |st AS (SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS total,
        |    max(c)::BIGINT AS max_c FROM c),
        |t AS (SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rank
        |  FROM c)
        |SELECT t.rank, t.k AS event_type, t.c AS n_rows,
        |  round(t.c::DOUBLE / st.total::DOUBLE, 4) AS share,
        |  round(st.max_c::DOUBLE * st.n_keys::DOUBLE / st.total::DOUBLE, 4)
        |    AS skew_factor
        |FROM t CROSS JOIN st WHERE t.rank <= 5""".stripMargin),

    // Edit-distance similarity join over part names: lossless q-gram
    // count filter (equi-join on grams) + exact levenshtein verify
    Query("q163_edit_distance_join", (s, d) =>
      graft.operators.StringJoin.editDistancePairs(
        t(s, d, "part"), "p_name", maxDist = 2, q = 2),
      // Edit-distance join oracle: the naive theta scan IS the truth —
      // the q-gram filter must lose nothing
      """WITH p AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name)::INT AS dist
        |FROM p a JOIN p b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),

    // Interval-overlap self-join over user sessions via 1-hour time-
    // bucket blocking: an EQUI-join on the bucket (SMJ/SHJ — no theta
    // cartesian), each overlapping pair emitted exactly once from its
    // first overlap bucket; exact µs overlap spans
    Query("q152_interval_join", (s, d) => {
      val sessions = graft.operators.Sessionize.sessionStats(
        Tables.events(s, d)
          .select(col("user_id"), expr("ts_ns div 1000").as("ts_us")),
        "user_id", "ts_us", gap = 1800000000L)
      graft.operators.IntervalJoin.overlapPairs(sessions,
        Seq("user_id", "session_id"), "session_start", "session_end",
        bucketWidth = 3600000000L)
    },
      // Interval-join replay: the q47 session synthesis + the NAIVE theta
      // self-join (oracle scale affords all-pairs; the engine's bucketed
      // equi-join must produce the identical pair set)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT user_id, ts_us,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nb
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |  CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        | FROM b),
        |iv AS (SELECT user_id, session_id,
        |  min(ts_us) AS s, max(ts_us) AS e
        | FROM s GROUP BY user_id, session_id)
        |SELECT a.user_id AS user_id_a, a.session_id AS session_id_a,
        |  b.user_id AS user_id_b, b.session_id AS session_id_b,
        |  greatest(a.s, b.s) AS overlap_start,
        |  least(a.e, b.e) AS overlap_end,
        |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON (a.user_id, a.session_id) < (b.user_id, b.session_id)
        | AND a.s <= b.e AND b.s <= a.e""".stripMargin),

    // the dialect-portable TPC-H shapes: one text builds and judges
    Query("q93_tpch_q4", (s, d) => onCanonicalViews(s, d, tpchQ4), tpchQ4),
    Query("q94_tpch_q12", (s, d) => onCanonicalViews(s, d, tpchQ12), tpchQ12),
    Query("q95_tpch_q13", (s, d) => onCanonicalViews(s, d, tpchQ13), tpchQ13),
    Query("q96_tpch_q15", (s, d) => onCanonicalViews(s, d, tpchQ15), tpchQ15),
    Query("q97_tpch_q11", (s, d) => onCanonicalViews(s, d, tpchQ11), tpchQ11),
    Query("q98_tpch_q2", (s, d) => onCanonicalViews(s, d, tpchQ2), tpchQ2),
    Query("q99_tpch_q8", (s, d) => onCanonicalViews(s, d, tpchQ8), tpchQ8),
    Query("q100_tpch_q9", (s, d) => onCanonicalViews(s, d, tpchQ9), tpchQ9),
    Query("q101_tpch_q16", (s, d) => onCanonicalViews(s, d, tpchQ16), tpchQ16))
}
