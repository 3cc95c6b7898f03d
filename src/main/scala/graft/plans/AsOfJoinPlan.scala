package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the full custom-operator ladder (logical node →
  * strategy → physical exec) behind [[graft.operators.AsOfJoin.asOf]].
  *
  * Physical algorithm: both sides hash-clustered on the keys and sorted
  * by (keys, ts) ascending; one streaming merge pass per partition —
  * O(left+right) per partition, zero buffering beyond one payload row.
  * Backward (`forward = false`): the latest right row per key with
  * `right.ts <= left.ts` (ties include the equal-ts right row), carried
  * forward. Forward: the earliest right row per key with
  * `right.ts >= left.ts` — the first right row not yet consumed. A null
  * ts on either side never matches.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ payloadOut
  // payloadOut attrs are minted by this node, not read from children
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)
  override lazy val resolved: Boolean = childrenResolved
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, p, po, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, p, po, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    forward: Boolean) extends BinaryExecNode {

  // the merge loop reads RIGHT-side slots through orderings/accessors
  // built from the LEFT side's types — a mismatch (int vs bigint ts)
  // would silently misread bytes, not error. Fail loudly at planning.
  require(leftTs.dataType == rightTs.dataType,
    s"as-of ts types differ: ${leftTs.dataType} vs ${rightTs.dataType} " +
      "(cast one side first)")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of key types differ: ${leftKeys.map(_.dataType)} vs " +
      s"${rightKeys.map(_.dataType)} (cast one side first)")

  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // capture only serializable expression/attribute seqs; the codegen'd
    // projections must be instantiated INSIDE the partition closure
    val (lOut, rOut, outAttrs) = (left.output, right.output, output)
    val (lKeys, rKeys, lTsA, rTsA, payloadA, payloadOutA, fwd) =
      (leftKeys, rightKeys, leftTs, rightTs, payload, payloadOut, forward)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsA), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsA), rOut)
      val payloadProj = UnsafeProjection.create(payloadA, rOut)
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val tsOrdering = TypeUtils.getInterpretedOrdering(lTsA.dataType)
        .asInstanceOf[Ordering[Any]]
      val tsType = lTsA.dataType
      val numPayload = payloadA.size
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ payloadOutA)

      new Iterator[InternalRow] {
        private val nullPayload = InternalRow.fromSeq(Seq.fill(numPayload)(null))
        private val joined = new JoinedRow

        private var rHead: InternalRow = _          // current right row (not yet consumed)
        private var rHeadKey: UnsafeRow = _
        private var lastKey: UnsafeRow = _          // backward: key of the carried payload
        private var lastPayload: InternalRow = _    // backward: carried payload (copy)

        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyProj(rHead).copy()
          } else { rHead = null; rHeadKey = null }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTs = lTsProj(lRow).get(0, tsType)
          // Null-ts policy: a null ts never matches anything (null right
          // rows are consumed and dropped; a null-ts left row emits
          // unmatched and consumes nothing). Both sides sort nulls
          // first, so dropping them here cannot skip past a real match.
          // Consume every right row before the probe in (key, ts) order;
          // backward also consumes the equal-ts rows and carries the
          // last one of the probe's key.
          var continue = rHead != null && lTs != null
          while (continue) {
            val c = keyOrdering.compare(rHeadKey, lKey)
            val rTs = if (c == 0) rTsProj(rHead).get(0, tsType) else null
            val take = c < 0 || (c == 0 && (rTs == null || {
              val t = tsOrdering.compare(rTs, lTs)
              t < 0 || (t == 0 && !fwd)
            }))
            if (take) {
              if (!fwd && c == 0 && rTs != null) {
                lastKey = rHeadKey
                lastPayload = payloadProj(rHead).copy()
              }
              advanceRight()
              continue = rHead != null
            } else continue = false
          }
          // forward: the unconsumed head has ts >= the probe's whenever
          // it shares the probe's key
          val matched: InternalRow =
            if (lTs == null) nullPayload
            else if (fwd) {
              if (rHead != null && keyOrdering.compare(rHeadKey, lKey) == 0)
                payloadProj(rHead)
              else nullPayload
            } else if (lastKey != null && keyOrdering.compare(lastKey, lKey) == 0)
              lastPayload
            else nullPayload
          outProj(joined(lRow, matched))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
