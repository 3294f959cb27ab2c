package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{BlobFetcher, LocalDirFetcher}

/** Per-op counters for the traced run, filled from Spark's public
  * listener interfaces. Listener events arrive on Spark's bus thread, so
  * every field is read only after `PerfbenchBus.drain`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private var jobs = 0L
  private var tasks = 0L
  private var taskCpuNs = 0L
  private var shuffleBytes = 0L
  private var inputBytes = 0L
  private var planningMs = 0L
  private var publishBytes = 0L
  private var publishFiles = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stages = mutable.ArrayBuffer.empty[Stage]

  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; taskCpuNs = 0; shuffleBytes = 0; inputBytes = 0
    planningMs = 0; publishBytes = 0; publishFiles = 0
    jobStart.clear(); jobSpans.clear(); stages.clear()
  }

  /** Summary of the events since `reset`, for an op that ran over the
    * wall-clock window [t0Ms, t1Ms]. */
  def op(t0Ms: Long, t1Ms: Long): Op = synchronized {
    val wall = math.max(1L, t1Ms - t0Ms).toDouble
    // union of job spans clipped to the window: wall not covered by any
    // running job is driver-side time (planning, listing, commits)
    var covered = 0L
    var end = t0Ms
    jobSpans.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
    val widest = stages.maxByOption(s => s.doneMs - s.submitMs)
    val stageWall = widest.map(s => math.max(1L, s.doneMs - s.submitMs))
    Op(wall, jobs, tasks, taskCpuNs / 1e6, wall - covered, shuffleBytes,
      inputBytes, planningMs, publishBytes, publishFiles,
      stageWall.map(_ / wall).getOrElse(0.0),
      widest.zip(stageWall).map { case (s, w) => s.taskRunMs.toDouble / w }
        .getOrElse(0.0))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += Stage(s, c, i.taskMetrics.executorRunTime)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    qe.executedPlan.foreach {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numOutputBytes").foreach(publishBytes += _.value)
        w.cmd.metrics.get("numFiles").foreach(publishFiles += _.value)
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Tracer {
  final case class Stage(submitMs: Long, doneMs: Long, taskRunMs: Long)

  /** What one op did, read after the bus drained. */
  final case class Op(wallMs: Double, jobs: Long, tasks: Long,
      taskCpuMs: Double, driverGapMs: Double, shuffleBytes: Long,
      inputBytes: Long, planningMs: Long, publishBytes: Long,
      publishFiles: Long, maxStageShare: Double,
      maxStageConcurrency: Double)
}

/** Process-wide fetch counters; local-mode executors share the JVM. */
object FetchCounters {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  val bytes = new AtomicLong
  def reset(): Unit = { calls.set(0); nanos.set(0); bytes.set(0) }
}

/** The traced run's transport: [[LocalDirFetcher]] plus call, time and
  * byte counts. */
final case class CountingFetcher(dir: String) extends BlobFetcher {
  private val inner = LocalDirFetcher(dir)
  override def fetch(identifier: String): Array[Byte] = {
    val t0 = System.nanoTime()
    val b = inner.fetch(identifier)
    FetchCounters.nanos.addAndGet(System.nanoTime() - t0)
    FetchCounters.calls.incrementAndGet()
    FetchCounters.bytes.addAndGet(b.length.toLong)
    b
  }
}
