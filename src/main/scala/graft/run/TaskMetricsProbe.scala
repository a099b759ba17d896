package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/**
 * The task-metrics listener: sums, across every task that ends between
 * `reset()` calls, the task count, records read and written, input bytes,
 * shuffle read/write bytes, spill bytes and task CPU, and tracks the max
 * per-task peak execution memory. It taps the metrics stream the engine
 * already emits, so every operator, past and future, is covered at zero
 * data-path cost — the Spark-native form of the reference's periodic
 * job stats (`spark.cdm.perfops.printStatsAfter`; `[upstream]`
 * `job/JobCounter.java` threads read/write counters through job code by
 * hand). `ScaleBench` attaches it per (family, size); `graft.Main` does
 * not attach it yet.
 *
 * Wall-time curves alone can hide a shuffle explosion at small scale (a
 * 10× shuffle-volume jump that still fits in page cache costs near-zero
 * seconds locally but saturates the network fabric on a real cluster) —
 * the shuffle-byte curve is the direct evidence the 100 TB posture needs,
 * and spill climbing during a migrate means partitions outgrew executor
 * memory and `numParts` needs raising.
 *
 * Lives under `org.apache.spark.sql.graft` because completeness needs
 * `listenerBus.waitUntilEmpty` (private[spark]): listener delivery is
 * async, so a read without a `drain` undercounts the tail of the job.
 * Only the listener-bus thread writes the counters; the atomics hand
 * them to the reading thread.
 */
final class TaskMetricsProbe extends SparkListener {
  val tasks = new AtomicLong
  val recordsRead = new AtomicLong
  val recordsWritten = new AtomicLong
  val shuffleReadB = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val spilledB = new AtomicLong
  val inputB = new AtomicLong
  val peakTaskExecB = new AtomicLong
  /** Summed task CPU time (ns). The load-bearing scale metric on a
   * shared VM: vmstat showed 20-44% hypervisor steal during harness
   * runs, which inflates WALL time 2-20× run-to-run, while CPU time
   * counts only cycles actually executed — steal-immune, and the honest
   * "total work" figure a linear-scaling claim is about. */
  val cpuTimeNs = new AtomicLong

  private def counters = Seq(tasks, recordsRead, recordsWritten, shuffleReadB,
    shuffleWriteB, spilledB, inputB, peakTaskExecB, cpuTimeNs)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spilledB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      peakTaskExecB.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      cpuTimeNs.addAndGet(m.executorCpuTime)
    }
  }

  def reset(): Unit = counters.foreach(_.set(0))

  /** Block until every pending listener event is delivered, so the
   * counters cover the whole job that just finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
