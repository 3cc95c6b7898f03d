package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-metrics accumulator behind `graft.Bench`'s telemetry line:
  * spill, GC, peak execution memory, shuffle and input volume per lane.
  * local[k] runs tasks in-process, so executor-side metrics land here
  * directly.
  */
private[graft] final class TaskMetricsListener extends SparkListener {
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  val gcTimeMs = new AtomicLong
  val peakExecMem = new AtomicLong
  val shufRead = new AtomicLong
  val shufWrite = new AtomicLong
  val inputRead = new AtomicLong
  val inputRows = new AtomicLong
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      memSpill.addAndGet(m.memoryBytesSpilled): Unit
      diskSpill.addAndGet(m.diskBytesSpilled): Unit
      gcTimeMs.addAndGet(m.jvmGCTime): Unit
      peakExecMem.updateAndGet(p => math.max(p, m.peakExecutionMemory)): Unit
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      // source-scan volume: the partition/DPP-pruning evidence for the
      // served-index lanes (r11 verdict #6 — "files-read telemetry"):
      // a pruned probe reads ~nprobe cells' bytes, a full scan reads
      // the corpus
      inputRead.addAndGet(m.inputMetrics.bytesRead): Unit
      inputRows.addAndGet(m.inputMetrics.recordsRead): Unit
    }
  }
  def reset(): Unit =
    Seq(memSpill, diskSpill, gcTimeMs, peakExecMem, shufRead, shufWrite,
      inputRead, inputRows)
      .foreach(_.set(0L))
  /** (mem_spill, disk_spill, gc_ms, peak_exec_mem, shuf_read, shuf_write,
    * input_read, input_rows)
    */
  def snapshot(): Seq[Long] =
    Seq(memSpill.get, diskSpill.get, gcTimeMs.get, peakExecMem.get,
      shufRead.get, shufWrite.get, inputRead.get, inputRows.get)
}

private[graft] object TaskMetricsListener {
  val keys: Seq[String] = Seq("mem_spill_mb", "disk_spill_mb", "gc_sec",
    "peak_exec_mem_mb", "shuffle_read_mb", "shuffle_write_mb",
    "input_read_mb", "input_rows_k")
  def toUnits(snap: Seq[Long]): Seq[Double] = Seq(
    snap(0) / 1048576.0, snap(1) / 1048576.0, snap(2) / 1000.0,
    snap(3) / 1048576.0, snap(4) / 1048576.0, snap(5) / 1048576.0,
    snap(6) / 1048576.0, snap(7) / 1000.0)
}
