package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftBridge.drainListenerBus

/**
 * The one per-stage cost account of the dev mains: [[measure]] runs a
 * body and returns its result, its wall time and a record for every
 * stage that completed while it ran.
 *
 * The window is exact without a sleep: the bus is drained before the
 * window's listener is added, so no event of an earlier action reaches
 * it; and DAGScheduler posts a stage's `StageCompleted` (and the job's
 * `JobEnd`) before the blocking action returns, so draining again after
 * the body delivers every stage the body waited on. Stages of jobs that
 * run concurrently with the body (another thread) are counted too — the
 * window is session-wide, not job-scoped.
 */
object QueryMetrics {

  /** One completed stage: task count, summed executor run / CPU time,
    * shuffle write bytes, shuffle read / write rows, scan input rows and
    * bytes spilled to disk. */
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuMs: Long,
                         shuffleWriteBytes: Long, shuffleReadRows: Long,
                         shuffleWriteRows: Long, inputRows: Long,
                         spillBytes: Long)

  final case class Window[T](result: T, wallS: Double, stages: Seq[Stage]) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  def measure[T](spark: SparkSession)(body: => T): Window[T] = {
    val sc = spark.sparkContext
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        done.add(Stage(i.stageId, i.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
          m.inputMetrics.recordsRead, m.diskBytesSpilled))
      }
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      Window(result, wallS, done.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
