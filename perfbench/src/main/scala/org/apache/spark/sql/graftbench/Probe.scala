package org.apache.spark.sql.graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/**
 * The benchmark's one listener. It lives under `org.apache.spark.sql` only
 * to reach two package-private hooks: draining the listener bus between
 * ops, and the executed plan attached to `SparkListenerSQLExecutionEnd`.
 *
 * Always on: the running sum of task CPU time, which `cpu_s_per_op` reads
 * as a before/after difference around one op.
 *
 * Traced (`detailed = true`): one record per job (wall, call site, SQL
 * execution id, the benchmark span that submitted it, task totals) and
 * one per SQL execution (call site, SQL metrics of the executed plan
 * summed by kind, parquet scans, parquet write paths). Records stay in
 * memory until [[drainRecords]] hands them to the caller.
 */
final class Probe(sc: SparkContext, detailed: Boolean) extends SparkListener
    with AdaptiveSparkPlanHelper {

  val cpuNs = new AtomicLong

  /** Task totals of one job; only touched on the listener-bus thread. */
  final class JobRec(val id: Int, val startMs: Long, val details: String,
      val execId: Option[Long], val span: Option[String], val stages: Int) {
    var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var waitMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  final class ExecRec(val id: Long, val details: String) {
    val sqlMs = mutable.LinkedHashMap.empty[String, Double]
    var scans = 0
    val writePaths = mutable.ArrayBuffer.empty[String]
  }

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val execById = mutable.HashMap.empty[Long, ExecRec]

  /** Wait until every event posted so far is delivered, then hand over
   * (and forget) the records collected so far. */
  def drainRecords(): (Seq[JobRec], Seq[ExecRec]) = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      val out = (jobs.toList, execs.toList)
      jobs.clear(); jobById.clear(); stageJob.clear(); stageSubmitMs.clear()
      execs.clear(); execById.clear()
      out
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val r = new JobRec(e.jobId, e.time, details,
      prop("spark.sql.execution.id").map(_.toLong), prop(Probe.SpanProperty), e.stageInfos.size)
    jobs += r
    jobById(e.jobId) = r
    e.stageIds.foreach(s => stageJob(s) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (detailed) synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      if (detailed) synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          stageSubmitMs.get(e.stageId).foreach(s => j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (detailed) event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val r = new ExecRec(e.executionId, Option(e.details).getOrElse(""))
      execs += r
      execById(e.executionId) = r
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execById.get(e.executionId).foreach(r => Option(e.qe).foreach(qe => summarize(qe.executedPlan, r)))
    }
    case _ =>
  }

  /** Sum the executed plan's time metrics by kind, count parquet scans
   * and note write paths. Walks the AQE-final plan and its subqueries;
   * reused exchanges are skipped so a shared subtree counts once. */
  private def summarize(plan: SparkPlan, r: ExecRec): Unit =
    foreachWithSubqueries(plan) {
      case _: ReusedExchangeExec =>
      case p =>
        p match {
          case _: FileSourceScanExec => r.scans += 1
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand => r.writePaths += c.outputPath.toString
            case _ =>
          }
          case _ =>
        }
        p.metrics.foreach { case (key, m) =>
          Probe.kindOf(p.nodeName, key).foreach { kind =>
            val ms = m.metricType match {
              case "nsTiming" => m.value / 1e6
              case "timing" => m.value.toDouble
              case _ => Double.NaN
            }
            if (!ms.isNaN) r.sqlMs(kind) = r.sqlMs.getOrElse(kind, 0.0) + ms
          }
        }
    }

  private def foreachWithSubqueries(plan: SparkPlan)(f: SparkPlan => Unit): Unit =
    collectWithSubqueries(plan) { case p => f(p); p }: Unit
}

object Probe {
  /** Local property naming the benchmark span that submitted a job. */
  val SpanProperty = "graftbench.span"

  /** SQL metric → benchmark kind; everything else is ignored. */
  def kindOf(node: String, metric: String): Option[String] = (node, metric) match {
    case (n, "pipelineTime") if n.startsWith("WholeStageCodegen") => Some("codegen_ms")
    case (n, "scanTime") if n.startsWith("Scan") => Some("scan_ms")
    case (_, "aggTime") => Some("agg_build_ms")
    case (_, "sortTime") => Some("sort_ms")
    case (n, "buildTime") if n.startsWith("BroadcastExchange") => Some("broadcast_build_ms")
    case (_, "buildTime") => Some("hash_build_ms")
    case (_, "shuffleWriteTime") => Some("shuffle_write_ms")
    case _ => None
  }
}
