package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Task-level statistics summed from Spark's own task metrics.
  *
  * Registered on the benchmark's SparkContext; it never touches program
  * code. Every job the benchmark measures runs under a job group, and
  * [[measure]] returns only once the listener has seen the end of every
  * job in that group, so the sums are complete when [[collect]] reads them. */
final class TaskStats extends SparkListener {
  import TaskStats.Window

  private final class Acc {
    var tasks = 0; var retries = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var outputBytes = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }

  private val byGroup = scala.collection.mutable.HashMap.empty[String, Acc]
  private val endedJobs = scala.collection.mutable.HashSet.empty[Int]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = Option(e.taskInfo).flatMap(_ => groupOfStage(e.stageId))
    val m = e.taskMetrics
    if (m != null) group.foreach { g =>
      synchronized {
        val a = byGroup.getOrElseUpdate(g, new Acc)
        a.tasks += 1
        if (e.taskInfo.attemptNumber > 0) a.retries += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += e.taskInfo.duration
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
    notifyAll()
  }

  // stage → job group, filled from the stage-submitted properties
  private val stageGroup = scala.collection.mutable.HashMap.empty[Int, String]

  override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => synchronized { stageGroup(e.stageInfo.stageId) = g })

  private def groupOfStage(stageId: Int): Option[String] = synchronized(stageGroup.get(stageId))

  /** Run `body` as job group `group`; returns its result once every job of
    * the group has been reported to this listener. */
  def measure[A](sc: SparkContext, group: String)(body: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000000000L
    synchronized {
      while (!ids.forall(endedJobs.contains) && System.nanoTime() < deadline) wait(50)
    }
    out
  }

  /** The statistics of one job group, empty when it ran no tasks. */
  def collect(group: String): Window = synchronized {
    val a = byGroup.getOrElse(group, new Acc)
    Window(a.tasks, a.retries, a.cpuNs, a.runMs, a.gcMs, a.inputBytes, a.outputBytes,
      a.shuffleReadBytes, a.shuffleWriteBytes, a.spillBytes, a.taskMs.toVector)
  }
}

object TaskStats {
  /** One measured window of tasks. */
  final case class Window(
      tasks: Int,
      retries: Int,
      cpuNs: Long,
      runMs: Long,
      gcMs: Long,
      inputBytes: Long,
      outputBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      taskMs: Vector[Long])
}
