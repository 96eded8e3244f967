package org.apache.spark.sql.graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}

/** Stage-level counters for the Spark work one block of code runs: jobs,
  * completed stages, tasks and shuffle bytes, plus one line per stage.
  *
  * Only the block's own jobs count. [[Meter.apply]] runs the block under
  * a unique job group and counts the jobs carrying it (Spark copies the
  * group to the threads that run a query's broadcasts and subqueries),
  * and only the stages those jobs list at their start. Jobs that other
  * threads start meanwhile are not counted. Job and stage events reach
  * listeners asynchronously, so the counts are read after the listener
  * bus has delivered every event posted so far (`waitUntilEmpty`, which
  * is private[spark] — hence this package). */
object Meter {

  /** What one metered block ran. `stages` are the completed stages, in
    * completion order; a stage whose shuffle output was reused is
    * skipped and never completes. */
  final case class Counts(seconds: Double, jobs: Int, stages: Seq[StageInfo]) {
    def tasks: Int = stages.map(_.numTasks).sum
    def shuffleWriteBytes: Long =
      stages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum
    def shuffleReadBytes: Long =
      stages.map(_.taskMetrics.shuffleReadMetrics.totalBytesRead).sum

    /** Seconds, jobs, stages, tasks and shuffle MB written and read. */
    def summary: String =
      f"$seconds%8.3f s  jobs=$jobs%-3d stages=${stages.size}%-3d " +
        f"tasks=$tasks%-5d shufW=${shuffleWriteBytes / 1e6}%9.2f MB " +
        f"shufR=${shuffleReadBytes / 1e6}%9.2f MB"

    /** One line per stage: id, tasks, wall ms, shuffle MB, name. */
    def stageLines: Seq[String] = stages.map { s =>
      val ms = (for (a <- s.completionTime; b <- s.submissionTime)
        yield a - b).getOrElse(-1L)
      val m = s.taskMetrics
      f"    stage ${s.stageId}%-4d tasks=${s.numTasks}%-3d $ms%5d ms " +
        f"w=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2f MB " +
        f"r=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2f MB  " +
        s.name.take(90)
    }
  }

  /** `body`'s result and the counts of the Spark work it ran. The
    * caller's job group is restored afterwards. Throws a
    * `TimeoutException` if the listener bus does not drain within 30 s
    * — a loud failure, never a short count. */
  def apply[T](sc: SparkContext)(body: => T): (T, Counts) =
    metered(sc, anyThread = false)(body)

  /** [[apply]], but counting the jobs of every thread while `body`
    * runs: for work on a thread that inherits no job group, such as an
    * HTTP server's dispatcher. Exact only while nothing else runs
    * Spark jobs. */
  def anyThread[T](sc: SparkContext)(body: => T): (T, Counts) =
    metered(sc, anyThread = true)(body)

  private def metered[T](sc: SparkContext, anyThread: Boolean)(
      body: => T): (T, Counts) = {
    val group = s"graft-meter-${java.util.UUID.randomUUID}"
    val keys = Seq(SparkContext.SPARK_JOB_GROUP_ID,
      SparkContext.SPARK_JOB_DESCRIPTION,
      SparkContext.SPARK_JOB_INTERRUPT_ON_CANCEL)
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    val l = new GroupListener(if (anyThread) None else Some(group))
    sc.addSparkListener(l)
    sc.setJobGroup(group, "graft meter")
    try {
      val t0 = System.nanoTime()
      val r = body
      val seconds = (System.nanoTime() - t0) / 1e9
      sc.listenerBus.waitUntilEmpty(30000L)
      (r, Counts(seconds, l.jobs.get, l.completed.asScala.toSeq))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(l)
    }
  }

  /** Counts the jobs carrying `group`, or every job when it is None. */
  private final class GroupListener(group: Option[String])
      extends SparkListener {
    val jobs = new AtomicInteger
    val completed = new ConcurrentLinkedQueue[StageInfo]
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (group.forall(g => Option(j.properties).exists(
          _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == g))) {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(s.stageInfo.stageId)) completed.add(s.stageInfo)
  }
}
