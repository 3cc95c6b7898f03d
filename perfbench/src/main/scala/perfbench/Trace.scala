package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` groups the spans of one benchmark operation
  * (a lane run, a pipeline run, a probe); `parent` is the enclosing span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** Cumulative task/job counters, fed by [[TaskCounters]]. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, delayMs: Long = 0, spillBytes: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, fetchWaitMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, cpuNs - o.cpuNs, delayMs - o.delayMs,
    spillBytes - o.spillBytes, inputRows - o.inputRows, inputBytes - o.inputBytes,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    fetchWaitMs - o.fetchWaitMs)
}

/** Job, stage and task counters plus the wall-clock intervals tasks ran in,
  * and the running size of cached/staged RDD blocks.
  */
final class TaskCounters extends SparkListener {
  private var c = Counters()
  private var peakTaskMem = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    intervals += ((i.launchTime, i.finishTime))
    if (m != null) {
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime, delayMs = c.delayMs + math.max(0L, delay),
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime)
    } else c = c.copy(tasks = c.tasks + 1)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      blockBytes -= blocks.remove(key).getOrElse(0L)
      if (b.storageLevel.isValid) {
        val size = b.memSize + b.diskSize
        blocks(key) = size
        blockBytes += size
      }
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  def snapshot(): Counters = synchronized(c)

  /** Task intervals and peaks since the previous call; resets them. */
  def takeWindow(): (Seq[(Long, Long)], Long, Long) = synchronized {
    val out = (intervals.toList, peakTaskMem, blockPeak)
    intervals.clear(); peakTaskMem = 0L; blockPeak = blockBytes
    out
  }
}

/** Catalyst phase times and exchange counts of every finished query. */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var executions = 0L
  var exchanges = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    executions += 1
    // the plan already ran; this walks it (AQE stages included), it does
    // not plan the query again
    exchanges += collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def snapshot(): Seq[Long] =
    synchronized(Seq(analysisMs, optimizationMs, planningMs, executions, exchanges))
}

/** Spans plus per-layer counter totals for the traced passes of a run.
  *
  * Spans are kept in memory and handed back at the end of the run. Counter
  * deltas are read at operation boundaries after the listener bus drains, so
  * each operation's counts are exactly the events it posted.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  /** Seconds of each traced operation, by operation name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val tasks = new TaskCounters
  private val plans = new PlanCounters
  private var on = false
  private var stack: List[Int] = Nil
  private var opId = 0
  private var gcStart: (Long, Long) = (0L, 0L)
  private def sc = spark.sparkContext

  def enabled: Boolean = on

  /** A span timed before the traced passes (session start); recorded only
    * in a traced run.
    */
  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (traced) spans += Span(spans.size, -1, 0, name, layer, startNs, endNs)

  def add(key: String, v: Double): Unit = totals(key) = totals.getOrElse(key, 0.0) + v
  def max(key: String, v: Double): Unit =
    totals(key) = math.max(totals.getOrElse(key, 0.0), v)
  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def start(): Unit = {
    sc.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    gcStart = Tracer.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    on = true
  }

  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
    val (count, ms) = Tracer.gc()
    add("jvm.gc_count", (count - gcStart._1).toDouble)
    add("jvm.gc_s", (ms - gcStart._2) / 1e3)
    max("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Time `body` as a child span of the current one; a no-op when off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null // reserve the id so children sort after their parent
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, opId, name, layer, t0, System.nanoTime())
      }
    }

  /** One benchmark operation: a root span plus the counters it moved. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      opId += 1
      org.apache.spark.perfbench.Bus.drain(sc)
      tasks.takeWindow(): Unit
      val c0 = tasks.snapshot()
      val p0 = plans.snapshot()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = span(name, "bench")(body)
      val wallS = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      org.apache.spark.perfbench.Bus.drain(sc)
      val d = tasks.snapshot() - c0
      val p = plans.snapshot().zip(p0).map { case (a, b) => a - b }
      val (intervals, peakMem, blockPeak) = tasks.takeWindow()
      val covered = Tracer.covered(intervals, w0, w1) / 1e3
      add("op.wall_s", wallS)
      add("catalyst.analysis_s", p(0) / 1e3)
      add("catalyst.optimization_s", p(1) / 1e3)
      add("catalyst.planning_s", p(2) / 1e3)
      add("catalyst.executions", p(3).toDouble)
      add("catalyst.exchanges", p(4).toDouble)
      add("scheduler.jobs", d.jobs.toDouble)
      add("scheduler.stages", d.stages.toDouble)
      add("scheduler.tasks", d.tasks.toDouble)
      add("scheduler.delay_s", d.delayMs / 1e3)
      add("scheduler.driver_s", math.max(0.0, wallS - covered))
      add("exec.task_wall_s", math.min(covered, wallS))
      add("exec.task_s", d.taskMs / 1e3)
      add("exec.cpu_s", d.cpuNs / 1e9)
      add("exec.spill_mb", d.spillBytes / 1048576.0)
      max("exec.peak_mem_mb", peakMem / 1048576.0)
      add("tables.input_rows", d.inputRows.toDouble)
      add("tables.input_mb", d.inputBytes / 1048576.0)
      add("exchange.write_mb", d.shuffleWrite / 1048576.0)
      add("exchange.read_mb", d.shuffleRead / 1048576.0)
      add("exchange.fetch_wait_s", d.fetchWaitMs / 1e3)
      val staged = sc.getRDDStorageInfo
      max("staging.blocks_end", staged.map(_.numCachedPartitions).sum.toDouble)
      max("staging.mb_end", staged.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      max("staging.mb_peak", blockPeak / 1048576.0)
      out
    }

  /** Jobs started while `body` runs (drains the bus on both sides). */
  def jobsDuring[T](body: => T): (T, Long) =
    if (!on) (body, 0L)
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      val j0 = tasks.snapshot().jobs
      val out = body
      org.apache.spark.perfbench.Bus.drain(sc)
      (out, tasks.snapshot().jobs - j0)
    }
}

object Tracer {
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Milliseconds of [from, to] during which at least one interval is open. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
