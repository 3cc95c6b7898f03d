package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.{AsOfJoinNode, AsOfJoinStrategy}

/** As-of join: for each left row, attach the latest right row with
  * `right.ts <= left.ts` (backward) or the earliest with
  * `right.ts >= left.ts` (forward), matching on equi-keys.
  *
  * Runs on the native physical operator ([[graft.plans.AsOfJoinExec]]):
  * both sides hash-clustered on the keys and sorted by (keys, ts), then
  * one streaming merge per co-partition. ONE shuffle per side, no range
  * predicate, no broadcast requirement, and no per-key buffering beyond
  * one payload row — a skewed key costs its rows, not its window.
  */
object AsOfJoin {

  /** @param left      left (probe) relation
    * @param right     right (reference) relation
    * @param keys      equi-join key column names (present on both sides,
    *                  same types)
    * @param leftTs    left ordering column (numeric or timestamp)
    * @param rightTs   right ordering column (the same type — a mismatch
    *                  fails at planning; cast one side first)
    * @param rightPayload right columns to attach, renamed as given: (src, out)
    * @param tolerance  max allowed |left.ts - right.ts| (same units);
    *                   None = unbounded look-back/ahead
    * @param direction  "backward" (latest right with ts <= left.ts — the
    *                   default point-in-time lookup) or "forward" (earliest
    *                   right with ts >= left.ts)
    *
    * A null ts on either side never matches. Registers the planner
    * strategy on the session on first use.
    */
  def asOf(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      rightPayload: Seq[(String, String)],
      tolerance: Option[Column] = None,
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward", direction)
    val forward = direction == "forward"
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    val lPlan = ColumnBridge.analyzed(left)
    // fresh-alias the right side: a self-join shares expression ids across
    // children, which confuses optimizer pruning on a custom node
    val rAnalyzed = ColumnBridge.analyzed(right)
    val rPlan = Project(rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(plan: LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"column $name not found in ${plan.output.map(_.name)}"))

    val pSrc = attr(rPlan, rightTs) +: rightPayload.map(p => attr(rPlan, p._1))
    val pOut = pSrc.zip("__asof_ts" +: rightPayload.map(_._2)).map {
      case (src, outName) => AttributeReference(outName, src.dataType, nullable = true)()
    }
    val node = AsOfJoinNode(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), pSrc, pOut, forward)
    val joinedDf = ColumnBridge.ofRows(spark, node)

    val gap =
      if (forward) col("__asof_ts") - col(leftTs)
      else col(leftTs) - col("__asof_ts")
    val keep = tolerance match {
      case Some(tol) => col("__asof_ts").isNotNull && gap <= tol
      case None => col("__asof_ts").isNotNull
    }
    joinedDf.select(left.columns.toSeq.map(col) ++
      rightPayload.map { case (_, out) => when(keep, col(out)).as(out) }: _*)
  }
}
