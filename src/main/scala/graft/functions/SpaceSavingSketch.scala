package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aggregation state: the counter map plus a LAZY-DELETION min-heap
  * over (est, key). Every put/increment pushes the key's new est; an
  * entry whose pushed est no longer equals the key's current est is
  * STALE and skipped on pop — so an eviction finds the true min in
  * amortized O(log capacity) instead of the former O(capacity) full
  * scan per evicted row (which made the update path O(rows×capacity)
  * on any high-cardinality stream, the exact workload the sketch
  * exists for). The heap compacts when it outgrows 8×map+64 entries;
  * merge/deserialize just clear it (rebuilt on the next eviction).
  */
private[functions] final class SsBuffer {
  val map = new java.util.HashMap[Any, Array[Long]]()
  val heap = new java.util.PriorityQueue[(Long, Any)](11,
    (x: (Long, Any), y: (Long, Any)) => java.lang.Long.compare(x._1, y._1))
}

/** SpaceSaving heavy-hitters summary (Metwally/Agrawal/El Abbadi 2005) as
  * a custom `TypedImperativeAggregate` over LONG, INT or STRING keys,
  * with the bias-compensated merge of Agarwal et al., "Mergeable
  * Summaries" (PODS 2012) so partial aggregation on ANY partitioning
  * preserves the guarantees:
  *
  *  - `est(x) >= trueCount(x)` for every tracked item,
  *  - `est(x) - err(x) <= trueCount(x)`,
  *  - every item with `trueCount(x) > N / capacity` is tracked (the
  *    "guaranteed heavy hitter" coverage bound).
  *
  * The summary is `capacity` counters regardless of input size — the
  * 100 TB top-k-frequent path where an exact groupBy's key-space would
  * dominate the shuffle. String keys are carried as the items themselves
  * (cloned out of the unsafe-row buffer on first sight), not pre-hashed —
  * the reported item is directly usable. Tie-breaking on eviction/trim is
  * order-sensitive, so the REPORTED SET beyond the guaranteed items may
  * vary with partitioning; consumers that need determinism join the
  * sketch against exact counts of the (deterministic) guaranteed set —
  * see q109, which oracle-enforces exactly the three bounds above — or
  * keep `capacity` above the key cardinality, which makes the whole
  * summary exact (q113).
  */
case class SpaceSavingTopK(
    child: Expression, capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SsBuffer] {

  require(capacity > 0, "capacity must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"spaceSavingTopK supports long, int and string keys, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", child.dataType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))), containsNull = false)

  /** Deterministic key order for the capacity trim (stability within a
    * merge); interpreted ordering for the child's atomic type.
    */
  @transient private lazy val keyOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType).asInstanceOf[Ordering[Any]]

  // value = Array(est, err) — mutable in place
  override def createAggregationBuffer(): SsBuffer = new SsBuffer

  private def minEntry(m: java.util.HashMap[Any, Array[Long]]): (Any, Array[Long]) = {
    var mk: Any = null; var mv: Array[Long] = null
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (mv == null || e.getValue()(0) < mv(0)) { mk = e.getKey; mv = e.getValue }
    }
    (mk, mv)
  }

  private def push(buf: SsBuffer, est: Long, key: Any): Unit = {
    buf.heap.add((est, key))
    if (buf.heap.size > buf.map.size.toLong * 8 + 64) rebuildHeap(buf)
  }

  private def rebuildHeap(buf: SsBuffer): Unit = {
    buf.heap.clear()
    val it = buf.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.heap.add((e.getValue()(0), e.getKey))
    }
  }

  /** Pop the TRUE min entry (skipping stale heap entries); only called
    * with a full map, so the rebuild fallback always finds one.
    */
  @annotation.tailrec
  private def popMin(buf: SsBuffer): (Any, Array[Long]) = {
    if (buf.heap.isEmpty) rebuildHeap(buf)
    val top = buf.heap.poll()
    val cur = buf.map.get(top._2)
    if (cur != null && cur(0) == top._1) (top._2, cur) else popMin(buf)
  }

  override def update(buf: SsBuffer, input: InternalRow): SsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String from an unsafe row points into a reused buffer — keys
      // stored across rows must own their bytes
      val x: Any = v match {
        case s: UTF8String => s.clone()
        case other => other
      }
      val cur = buf.map.get(x)
      if (cur != null) { cur(0) += 1; push(buf, cur(0), x) }
      else if (buf.map.size() < capacity) {
        buf.map.put(x, Array(1L, 0L)); push(buf, 1L, x)
      } else {
        // evict the min-count item; the newcomer inherits its count as
        // overestimation error (the classic SpaceSaving step)
        val (mk, mv) = popMin(buf)
        buf.map.remove(mk)
        buf.map.put(x, Array(mv(0) + 1, mv(0)))
        push(buf, mv(0) + 1, x)
      }
    }
    buf
  }

  /** Mergeable-summaries merge: an item absent from one side gets that
    * side's minimum estimate added as bias (est AND err — it may have
    * occurred up to min times there unseen), then trim to the `capacity`
    * largest estimates. Both error bounds and the coverage guarantee
    * survive this for any merge tree.
    */
  override def merge(ab: SsBuffer, bb: SsBuffer): SsBuffer = {
    val a = ab.map; val b = bb.map
    if (b.isEmpty) return ab
    // bulk map surgery invalidates the heap wholesale — clear it and
    // let the next eviction rebuild (merges are per-buffer-pair, so
    // the O(capacity) min scans here are off the per-row path)
    ab.heap.clear()
    if (a.isEmpty) { a.putAll(b); return ab }
    val minA = if (a.size() < capacity) 0L else minEntry(a)._2(0)
    val minB = if (b.size() < capacity) 0L else minEntry(b)._2(0)
    // fold B into A
    val itB = b.entrySet().iterator()
    while (itB.hasNext) {
      val e = itB.next()
      val cur = a.get(e.getKey)
      if (cur != null) { cur(0) += e.getValue()(0); cur(1) += e.getValue()(1) }
      else a.put(e.getKey, Array(e.getValue()(0) + minA, e.getValue()(1) + minA))
    }
    // items only in A absorb B's min as unseen-occurrence bias
    val itA = a.entrySet().iterator()
    while (itA.hasNext) {
      val e = itA.next()
      if (!b.containsKey(e.getKey)) { e.getValue()(0) += minB; e.getValue()(1) += minB }
    }
    if (a.size() > capacity) {
      val entries = new java.util.ArrayList(a.entrySet())
      // keep the capacity largest estimates (ties broken by key for
      // stability within this merge)
      entries.sort { (x, y) =>
        val c = java.lang.Long.compare(y.getValue()(0), x.getValue()(0))
        if (c != 0) c else keyOrdering.compare(x.getKey, y.getKey)
      }
      var i = capacity
      while (i < entries.size()) { a.remove(entries.get(i).getKey); i += 1 }
    }
    ab
  }

  override def eval(b: SsBuffer): Any = {
    val buf = b.map
    val out = new Array[Any](buf.size())
    val it = buf.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey, e.getValue()(0), e.getValue()(1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: SsBuffer): Array[Byte] = {
    val buf = b.map
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      child.dataType match {
        case LongType => out.writeLong(e.getKey.asInstanceOf[Long])
        case IntegerType => out.writeInt(e.getKey.asInstanceOf[Int])
        case StringType =>
          val bytes = e.getKey.asInstanceOf[UTF8String].getBytes
          out.writeInt(bytes.length)
          out.write(bytes)
        case t => throw new IllegalStateException(s"unreachable key type $t")
      }
      out.writeLong(e.getValue()(0))
      out.writeLong(e.getValue()(1))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SsBuffer = {
    val in = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = in.getInt
    var i = 0
    while (i < n) {
      val k: Any = child.dataType match {
        case LongType => in.getLong
        case IntegerType => in.getInt
        case StringType =>
          val len = in.getInt
          val b = new Array[Byte](len)
          in.get(b)
          UTF8String.fromBytes(b)
        case t => throw new IllegalStateException(s"unreachable key type $t")
      }
      // heap stays empty — rebuilt lazily on the first eviction
      buf.map.put(k, Array(in.getLong, in.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SpaceSavingTopK =
    copy(child = newChildren.head)
}

object SpaceSavingSketch {

  /** Heavy-hitters summary column: array<struct<item,est,err>> over a
    * LONG, INT or STRING key column, `capacity` counters, any
    * partitioning.
    */
  def spaceSavingTopK(c: Column, capacity: Int): Column =
    ColumnBridge.column(
      SpaceSavingTopK(ColumnBridge.expression(c), capacity).toAggregateExpression())
}
