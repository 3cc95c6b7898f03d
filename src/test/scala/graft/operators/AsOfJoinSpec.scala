package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val quotes = Seq( // (sym, ts, px)
    ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
    ("B", 15L, 10.0)
  ).toDF("sym", "ts", "px")

  private val trades = Seq( // (sym, ts, qty)
    ("A", 5L, 100L),   // before any quote → null
    ("A", 20L, 200L),  // equal ts → that quote (<= semantics)
    ("A", 25L, 300L),  // between → quote@20
    ("A", 99L, 400L),  // after all → quote@30
    ("B", 16L, 500L),  // → quote@15
    ("C", 50L, 600L)   // key with no quotes → null
  ).toDF("sym", "ts", "qty")

  test("as-of semantics: latest right with ts <= left ts, per key") {
    val got = AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts",
      Seq(("px", "last_px")))
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        Option(r.getAs[Any]("last_px"))).toMap
    assert(got(("A", 5L)).isEmpty)
    assert(got(("A", 20L)).contains(2.0))
    assert(got(("A", 25L)).contains(2.0))
    assert(got(("A", 99L)).contains(3.0))
    assert(got(("B", 16L)).contains(10.0))
    assert(got(("C", 50L)).isEmpty)
  }

  test("tolerance bounds the look-back") {
    val got = AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts",
      Seq(("px", "last_px")), tolerance = Some(lit(6L)))
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        Option(r.getAs[Any]("last_px"))).toMap
    assert(got(("A", 25L)).contains(2.0))  // 25-20=5 <= 6
    assert(got(("A", 99L)).isEmpty)        // 99-30=69 > 6
  }

  test("forward direction: earliest right with ts >= left ts") {
    val got = AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts",
      Seq(("px", "next_px")), direction = "forward")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("ts")) ->
        Option(r.getAs[Any]("next_px"))).toMap
    assert(got(("A", 5L)).contains(1.0))   // next quote @10
    assert(got(("A", 20L)).contains(2.0))  // equal ts included
    assert(got(("A", 25L)).contains(3.0))  // next quote @30
    assert(got(("A", 99L)).isEmpty)        // nothing after
    assert(got(("C", 50L)).isEmpty)
  }

  /** (key, ts) → payload for every left row, by definition: the
    * nearest right row of the key on the asked side within tolerance.
    * Right ts are distinct per key, so the match is unique.
    */
  private def bruteForce(left: Seq[(Int, Option[Long])],
      right: Seq[(Int, Option[Long], Long)], forward: Boolean,
      tol: Option[Long]): Map[(Int, Option[Long]), Option[Long]] =
    left.map { case (k, lTs) =>
      val hit = lTs.flatMap { l =>
        val gaps = right.collect {
          case (rk, Some(r), v) if rk == k && (if (forward) r >= l else r <= l) =>
            (math.abs(r - l), v)
        }.filter { case (g, _) => tol.forall(g <= _) }
        if (gaps.isEmpty) None else Some(gaps.minBy(_._1)._2)
      }
      (k, lTs) -> hit
    }.toMap

  test("matches a brute force over a generated fixture: both directions, with and without tolerance") {
    val rnd = new scala.util.Random(7)
    // keys 0..5 on the left; key 5 has no right rows; about 1 in 20 ts null
    def ts(): Option[Long] = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(400).toLong)
    val right = (0 until 5).flatMap { k =>
      val tss = rnd.shuffle((0 until 400).toList).take(30).map(_.toLong)
      tss.map(t => (k, Option(t), k * 1000L + t)) :+ ((k, None, -1L))
    }
    val left = (0 until 6).flatMap(k => Seq.fill(40)((k, ts()))).distinct
    val l = left.toDF("k", "ts")
    val r = right.toDF("k", "ts", "v")
    for (direction <- Seq("backward", "forward"); tol <- Seq(None, Some(15L))) {
      val rows = AsOfJoin.asOf(l, r, Seq("k"), "ts", "ts", Seq(("v", "v")),
          tolerance = tol.map(lit), direction = direction).collect()
      val got = rows.map(row => (row.getInt(0), Option(row.get(1)).map(_.asInstanceOf[Long])) ->
        Option(row.get(2)).map(_.asInstanceOf[Long])).toMap
      val want = bruteForce(left, right, direction == "forward", tol)
      val wrong = want.filter { case (probe, hit) => !got.get(probe).contains(hit) }
      assert(rows.length == left.size && wrong.isEmpty,
        s"$direction $tol: ${rows.length} rows, wrong (probe -> want): ${wrong.take(5)}")
      assert(want.values.count(_.isDefined) > left.size / 3, s"$direction $tol: fixture too sparse")
    }
  }

  /** Reference as-of join by the union+window formulation: both sides
    * unioned with a side tag, ordered per key by (ts, side), and the right
    * payload carried over the left rows with last/first ignoreNulls. An
    * algorithm independent of the merge, kept here only to check it.
    */
  private def unionWindowAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightPayload: Seq[(String, String)],
      tolerance: Option[Column] = None, direction: String = "backward"): DataFrame = {
    val back = direction == "backward"
    val leftCols = left.columns.toSeq
    val payloadStruct = struct(
      col(rightTs).as("__asof_ts") +: rightPayload.map { case (src, out) => col(src).as(out) }: _*)
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(if (back) 1 else 0))
      .withColumn("__payload", lit(null).cast(right.select(payloadStruct).schema.head.dataType))
    val r = right
      .filter(col(rightTs).isNotNull) // a null right ts never matches
      .select(keys.map(col) :+ col(rightTs).as("__ts") :+ payloadStruct.as("__payload"): _*)
      .withColumn("__side", lit(if (back) 0 else 1))
    val unioned = l.select(
      (keys.map(col) :+ col("__ts") :+ col("__side") :+ col("__payload")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(r, allowMissingColumns = true)
    val ordered = Window.partitionBy(keys.map(col): _*).orderBy(col("__ts"), col("__side"))
    val carried =
      if (back) unioned.withColumn("__match", last(col("__payload"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      else unioned.withColumn("__match", first(col("__payload"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val gap =
      if (back) col("__ts") - col("__match.__asof_ts")
      else col("__match.__asof_ts") - col("__ts")
    val inTolerance = tolerance.foldLeft(col("__match").isNotNull && col("__ts").isNotNull)(
      (ok, tol) => ok && gap <= tol)
    carried
      .filter(col("__side") === lit(if (back) 1 else 0))
      .select(leftCols.map(col) ++
        rightPayload.map { case (_, out) => when(inTolerance, col("__match").getField(out)).as(out) }: _*)
  }

  test("native exec matches the union+window formulation (fixture)") {
    for (direction <- Seq("backward", "forward")) {
      def collect(df: DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.getAs[Any]("px_at"))).toMap
      val native = collect(AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts",
        Seq(("px", "px_at")), direction = direction))
      val composed = collect(unionWindowAsOf(trades, quotes, Seq("sym"), "ts", "ts",
        Seq(("px", "px_at")), direction = direction))
      assert(native.size == 6 && native == composed, s"$direction: $native vs $composed")
    }
  }

  test("native exec matches union+window on real events data + tolerance") {
    val ev = graft.Tables.events(TestSpark.spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase").select("user_id", "ts_ns", "value")
    val probes = ev.select("event_id", "user_id", "ts_ns")
    def collect(df: DataFrame) =
      df.collect().map(r => r.getAs[Long]("event_id") -> Option(r.getAs[Any]("v"))).toMap
    val tol = Some(lit(86400L * 1000000000L)) // 1 day in ns
    val native = collect(AsOfJoin.asOf(probes, purchases, Seq("user_id"),
      "ts_ns", "ts_ns", Seq(("value", "v")), tolerance = tol))
    val composed = collect(unionWindowAsOf(probes, purchases, Seq("user_id"),
      "ts_ns", "ts_ns", Seq(("value", "v")), tolerance = tol))
    assert(native.size == 1000 && native == composed)
    assert(native.values.exists(_.isDefined), "no probe matched within the tolerance")
  }

  test("forward: equal ts matches, null ts on either side never matches, key without right rows") {
    val q = Seq(("A", Option(10L), 1.0), ("A", Option.empty[Long], 99.0),
      ("A", Option(30L), 3.0)).toDF("sym", "ts", "px")
    val t = Seq(("A", Option(10L)), ("A", Option(11L)), ("A", Option.empty[Long]),
      ("A", Option(31L)), ("B", Option(5L))).toDF("sym", "ts")
    val got = AsOfJoin.asOf(t, q, Seq("sym"), "ts", "ts",
        Seq(("px", "next_px")), direction = "forward")
      .collect().map(r => (r.getString(0), Option(r.get(1))) ->
        Option(r.getAs[Any]("next_px"))).toMap
    assert(got(("A", Some(10L))).contains(1.0))  // equal ts included
    assert(got(("A", Some(11L))).contains(3.0))  // the null-ts quote is skipped
    assert(got(("A", None)).isEmpty)             // null-ts probe: unmatched
    assert(got(("A", Some(31L))).isEmpty)        // nothing after
    assert(got(("B", Some(5L))).isEmpty)         // key with no quotes
  }

  test("native exec plan contains the custom operator and no window/union") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts",
      Seq(("px", "last_px")))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(300))
    assert(!plan.contains("Window"), "as-of join should not use a window exec")
    assert(!plan.contains("Union"), "as-of join should not union its inputs")
  }

  test("native exec: null timestamps never match and never crash") {
    val q = Seq(("A", Option(10L), 1.0), ("A", Option.empty[Long], 99.0))
      .toDF("sym", "ts", "px")
    val t = Seq(("A", Option(15L), 100L), ("A", Option.empty[Long], 200L))
      .toDF("sym", "ts", "qty")
    val got = AsOfJoin.asOf(t, q, Seq("sym"), "ts", "ts", Seq(("px", "last_px")))
      .collect().map(r => Option(r.get(r.fieldIndex("ts"))) ->
        Option(r.getAs[Any]("last_px"))).toMap
    assert(got(Some(15L)).contains(1.0))  // matches the non-null quote only
    assert(got(None).isEmpty)             // null-ts probe: unmatched
  }

  test("native exec rejects mismatched ts/key types at planning, not silently") {
    val q = Seq(("A", 10, 1.0)).toDF("sym", "ts", "px") // INT ts
    val t = Seq(("A", 15L, 100L)).toDF("sym", "ts", "qty") // BIGINT ts
    val e = intercept[Exception] {
      AsOfJoin.asOf(t, q, Seq("sym"), "ts", "ts",
        Seq(("px", "last_px"))).collect()
    }
    assert(e.getMessage.contains("ts types differ"), e.getMessage)
  }

  test("left columns are preserved") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "ts", Seq(("px", "last_px")))
    assert(out.columns.toSeq == Seq("sym", "ts", "qty", "last_px"))
    assert(out.count() == 6)
  }
}
