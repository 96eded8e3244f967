package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** STATS-PRESERVING eager localCheckpoint (guide §3.1 / VERDICT r15
  * ask #4): a plain `localCheckpoint` yields a LogicalRDD leaf whose
  * statistics are either absent (→ `spark.sql.defaultSizeInBytes`,
  * effectively infinite — every subsequent join of the leaf plans
  * SortMergeJoin even when the relation is tiny) or copied from the
  * pre-checkpoint plan's ESTIMATES (which for aggregate/join outputs
  * can be arbitrarily wrong in both directions). The r15 workaround
  * was count-driven forced hints (`JoinHints.maybeBroadcast`), which
  * costs one count job per relation and bypasses the planner.
  *
  * This seam instead attaches the EXACT materialized size: an eager
  * local checkpoint caches the RDD's blocks, so their total
  * (mem + disk) byte size is already known to the BlockManager — no
  * extra job, no estimate. The rebuilt LogicalRDD carries that figure
  * as `originStats`, so the PLANNER makes the broadcast-vs-sort-merge
  * call itself, against the session threshold, exactly as it would
  * for a file scan. Scale-adaptive by construction: a big relation
  * reports its real big size and keeps sort-merge.
  *
  * Lives in the org.apache.spark.sql namespace because rebuilding the
  * leaf needs the private[sql] `Dataset.ofRows`; everything used is
  * standard public-source Spark (execution.LogicalRDD,
  * catalyst.Statistics).
  */
object StatsCheckpoint {

  /** Eager localCheckpoint whose leaf carries exact size statistics
    * measured from the checkpointed blocks. Falls back to the plain
    * checkpoint when the storage info is not yet visible. */
  def localCheckpointWithStats(df: DataFrame): DataFrame =
    restat(df.localCheckpoint(true))

  /** FUSED lazy-localCheckpoint + count: marks the plan's RDD for local
    * checkpointing, then materializes it with the count action the
    * caller needed anyway — one job fewer than
    * eager-checkpoint-then-count (the iterative loops' per-round
    * cadence: BFS level emptiness checks, star-contraction
    * fingerprints). Under AQE the lazy checkpoint itself runs the
    * plan's shuffle stages at call time; only the last stage waits for
    * the count. Returns the stats-carrying leaf plus the exact row
    * count, and attaches the rowCount to the statistics for free. */
  def localCheckpointWithStatsAndCount(df: DataFrame): (DataFrame, Long) = {
    val ck = df.localCheckpoint(false)
    val n = ck.count()
    (restat(ck, rowCount = Some(n)), n)
  }

  /** Attach measured statistics to a checkpoint leaf the caller has
    * ALREADY materialized with its own fused action (e.g. the
    * star-contraction convergence fingerprint): lazy-localCheckpoint,
    * run the action, then call this. Identity on non-leaves. */
  def withMeasuredStats(ck: DataFrame,
      rowCount: Option[Long] = None): DataFrame = restat(ck, rowCount)

  /** Rebuild a checkpoint leaf with exact measured statistics; identity
    * on anything that is not a materialized LogicalRDD. */
  private def restat(ck: DataFrame,
      rowCount: Option[Long] = None): DataFrame =
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[SparkSession]
        val bytes = session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
        bytes match {
          case Some(b) =>
            val stats = Statistics(sizeInBytes = BigInt(b),
              rowCount = rowCount.map(BigInt(_)))
            val leaf = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
              lr.outputOrdering, lr.isStreaming, lr.stream)(
              session, Some(stats), None)
            Dataset.ofRows(session, leaf)
          case None => ck
        }
      case _ => ck
    }
}
