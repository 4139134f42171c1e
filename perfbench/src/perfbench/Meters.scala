package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task metrics summed over a window (one iteration, one probe). */
final case class StageTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, peakExecMem: Long = 0,
    serialCpuNs: Long = 0) {

  /** `this - before`; the peak is a running max, so it is kept as is. */
  def minus(b: StageTotals): StageTotals = StageTotals(
    jobs - b.jobs, stages - b.stages, tasks - b.tasks, runMs - b.runMs,
    cpuNs - b.cpuNs, gcMs - b.gcMs, shuffleWrite - b.shuffleWrite,
    shuffleRead - b.shuffleRead, spill - b.spill, inputBytes - b.inputBytes,
    inputRecords - b.inputRecords, peakExecMem, serialCpuNs - b.serialCpuNs)

  def layer: Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      "stage.jobs" -> jobs.toDouble,
      "stage.stages" -> stages.toDouble,
      "stage.tasks" -> tasks.toDouble,
      "stage.executor_run_s" -> runMs / 1e3,
      "stage.executor_cpu_s" -> cpuNs / 1e9,
      "stage.gc_s" -> gcMs / 1e3,
      "stage.shuffle_write_mb" -> shuffleWrite / mb,
      "stage.shuffle_read_mb" -> shuffleRead / mb,
      "stage.spill_mb" -> spill / mb,
      "stage.input_mb" -> inputBytes / mb,
      "stage.peak_exec_mem_mb" -> peakExecMem / mb,
      "stage.serial_cpu_share" -> (if (cpuNs > 0) serialCpuNs.toDouble / cpuNs else 0.0))
  }
}

/** Benchmark-side SparkListener: task metrics per stage, jobs, and the
  * share of executor CPU spent in stages narrower than the core count. */
final class StageMeter(cores: Int) extends SparkListener {
  private var t = StageTotals()
  private var peak = 0L

  def totals: StageTotals = synchronized(t.copy(peakExecMem = peak))
  def resetPeak(): Unit = synchronized { peak = 0L }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized { peak = math.max(peak, m.peakExecutionMemory) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null) synchronized {
      val cpu = m.executorCpuTime
      t = t.copy(
        stages = t.stages + 1,
        tasks = t.tasks + info.numTasks,
        runMs = t.runMs + m.executorRunTime,
        cpuNs = t.cpuNs + cpu,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = t.inputRecords + m.inputMetrics.recordsRead,
        serialCpuNs = t.serialCpuNs + (if (info.numTasks < cores) cpu else 0L))
    }
  }
}

final case class PlanTotals(analysisMs: Long = 0, optimizeMs: Long = 0,
                            physicalMs: Long = 0) {
  def minus(b: PlanTotals): PlanTotals = PlanTotals(analysisMs - b.analysisMs,
    optimizeMs - b.optimizeMs, physicalMs - b.physicalMs)
  def planMs: Long = analysisMs + optimizeMs + physicalMs
}

/** Planning-phase times of every action's QueryExecution, read from its
  * QueryPlanningTracker when the action completes. */
final class PlanMeter extends QueryExecutionListener {
  private var t = PlanTotals()
  def totals: PlanTotals = synchronized(t)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    synchronized {
      t = t.copy(analysisMs = t.analysisMs + ms("analysis"),
        optimizeMs = t.optimizeMs + ms("optimization"),
        physicalMs = t.physicalMs + ms("planning"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every progress event of every streaming query (`recentProgress` keeps
  * only the last 100). */
final class StreamMeter extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def progress(id: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(buf.filter(_.id == id).toSeq)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Process readings: CPU time, heap. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
}

object Stats {
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

object Json {
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => "\"" + esc(s) + "\""
    case o => "\"" + esc(o.toString) + "\""
  }
}
