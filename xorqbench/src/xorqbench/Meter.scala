package xorqbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Counters the traced run reads at step boundaries: a SparkListener
  * for jobs/stages/tasks/bytes and a QueryExecutionListener for the
  * Catalyst phases, execution time and exchanges of every query. Both
  * are registered by the benchmark; nothing inside the program is
  * instrumented. */
final class Meter(spark: SparkSession) {
  private val c = mutable.LinkedHashMap(Seq(
    "jobs_started", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_write_b", "spark.shuffle_read_b", "spark.spill_b",
    "spark.input_b", "spark.output_b", "spark.gc_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges", "spark.exec_us")
    .map(_ -> new AtomicLong()): _*)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add("jobs_started", 1)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spark.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("spark.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.input_b", m.inputMetrics.bytesRead)
        add("spark.output_b", m.outputMetrics.bytesWritten)
        add("spark.gc_ms", m.jvmGCTime)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private val queries = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimization_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
      add("catalyst.exchanges",
        Plans.collect(qe.executedPlan) { case x: Exchange => x }.size)
      add("spark.exec_us", ns / 1000)
    }
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(queries)

  /** Wait until every posted event is delivered and every started job
    * has ended; fails loudly instead of reading a partial count. */
  def drain(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def left = math.max(1L, deadline - System.currentTimeMillis())
    org.apache.spark.xorqbench.Bus.waitUntilEmpty(spark.sparkContext, left)
    while (c("jobs_started").get != c("spark.jobs").get) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"listener drain timed out: ${c("jobs_started").get} jobs " +
            s"started, ${c("spark.jobs").get} ended")
      Thread.sleep(5)
      org.apache.spark.xorqbench.Bus.waitUntilEmpty(spark.sparkContext, left)
    }
  }

  /** Drained snapshot of every counter. */
  def snapshot(): Map[String, Long] = {
    drain()
    c.map { case (k, v) => k -> v.get }.toMap
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }
}

object Meter {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Counts of what the program asks of the analyzer and the file system,
  * read around single steps of a traced author_hit operation. They are
  * filled by the check rule and the file system that [[Env.session]]
  * installs in traced runs. */
object Probes {
  /** Logical plans checked by the analyzer: one per DataFrame built. */
  val analyses = new AtomicLong()
  /** Entries returned by local directory listings. */
  val listed = new AtomicLong()
}

/** The local file system, counting the entries its listings return
  * into [[Probes.listed]]. `FileSystem.listFiles` walks a tree through
  * `listLocatedStatus`, and `listStatusIterator` pages through
  * `listStatus`, so these two overrides see every listing once. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path,
    RemoteIterator}

  override def listStatus(f: Path): Array[FileStatus] = {
    val r = super.listStatus(f)
    Probes.listed.addAndGet(r.length)
    r
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val it = super.listLocatedStatus(f)
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = { Probes.listed.incrementAndGet(); it.next() }
    }
  }
}
