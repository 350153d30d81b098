package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Spark-side accounting for the traced run, keyed by job group: every
  * timed operation runs under its own `setJobGroup`, and this listener
  * folds the jobs, stages and tasks of each group.
  *
  * Exactness without sleeping: after an operation returns, [[settle]] runs
  * one tiny fence job in a group of its own. The listener bus delivers
  * events in order, so once the fence job's end has arrived every event
  * the operation posted before it has arrived too; `settle` then waits
  * until every job the group started has ended and every task it started
  * has ended (tasks of cancelled stages can end late).
  */
final class Trace(sc: SparkContext) extends SparkListener {

  final class Group {
    var jobsStarted = 0; var jobsEnded = 0
    var stages = 0; var tasksStarted = 0; var tasksEnded = 0
    var failedTasks = 0
    var executorRunMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  // jobId → group, filled at job start (JobEnd carries no properties)
  private val jobGroup = mutable.HashMap.empty[Int, String]

  private def groupOf(id: String): Group = groups.getOrElseUpdate(id, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      groupOf(id).jobsStarted += 1
      jobGroup(e.jobId) = id
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(id => groupOf(id).jobsEnded += 1)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { id =>
      val g = groupOf(id)
      g.stages += 1
      for (s <- si.submissionTime; c <- si.completionTime) g.stageSpans += ((s, c))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageGroup.get(e.stageId).foreach(id => groupOf(id).tasksStarted += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val g = groupOf(id)
      g.tasksEnded += 1
      if (!e.taskInfo.successful) g.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        g.executorRunMs += m.executorRunTime
        g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        g.input += m.inputMetrics.bytesRead
      }
    }
    notifyAll()
  }

  private var fences = 0

  /** Block until the group's accounting is complete (see class doc). */
  def settle(id: String): Group = {
    fences += 1
    val fence = s"fence-$fences"
    sc.setJobGroup(fence, fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      def done: Boolean = {
        val f = groupOf(fence)
        val g = groupOf(id)
        f.jobsEnded == f.jobsStarted && f.jobsStarted > 0 &&
          g.jobsEnded == g.jobsStarted && g.tasksEnded == g.tasksStarted
      }
      while (!done) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left <= 0) sys.error(s"listener did not settle for $id")
        wait(left)
      }
      groups.remove(fence)
      groupOf(id)
    }
  }
}

object Trace {

  /** Codegen compile counter and summed compile time from Spark's public
    * `CodegenMetrics` histogram. The sum is exact while the histogram's
    * reservoir still holds every sample (under 1028 compiles per JVM). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  /** Length of the union of `[start, end]` intervals clipped to the window. */
  def unionMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
