package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007) over an (src, dst) edge DataFrame. Every node starts with its
  * own id as label; each round every node adopts the most frequent
  * label among its neighbors, ties broken by the SMALLEST label —
  * fully deterministic, so a pinned round count is SQL-replicable by
  * unrolling rounds as chained CTEs (the PageRank oracle pattern).
  *
  * Distributed shape per round: one edge⋈label equi-join, one
  * (node, label) hash aggregation, one per-node window bounded by
  * degree (never a global window), and a `localCheckpoint` lineage
  * cut. The input is symmetrized and de-looped here, so callers pass
  * each undirected edge once in either direction.
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds; output (node, label). */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"label propagation needs >= 1 round, got $iters")
    // partition by the per-round join key ONCE (the Bfs/PageRank
    // pattern: dedup rides the same exchange, sort-merge rounds then
    // exchange only the label side), and broadcast-hint the label
    // vector from the node count taken once — every node keeps exactly
    // one label, so the count is round-invariant (guide §3.1; the
    // checkpointed rounds otherwise planned SortMergeJoin both sides).
    val e = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .repartition(col("dst")).dropDuplicates("src", "dst").persist()
    // FUSED init: lazy checkpoint + the node count the hints need —
    // one job instead of eager-checkpoint-then-count's two (r16)
    val (labels0, nodeN) = org.apache.spark.sql.graft.StatsCheckpoint
      .localCheckpointWithStatsAndCount(
        e.select(col("src").as("node")).distinct()
          .withColumn("label", col("node")))
    var labels = labels0
    val byCount = Window.partitionBy("node")
      .orderBy(col("cnt").desc, col("label"))
    (1 to iters).foreach { round =>
      val lb = JoinHints.maybeBroadcast(
        labels.withColumnRenamed("node", "__n"), nodeN)
      labels = e.join(lb, e("dst") === col("__n"))
        .select(col("src").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(byCount))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label"))
        // lazy per-round cut: materializes inside the next round's
        // label-vector broadcast build instead of a dedicated job
        // (the PageRank r16 pattern); hints stay count-driven. The
        // last round is eager, so every round runs before `e` is
        // unpersisted below
        .localCheckpoint(eager = round == iters)
    }
    e.unpersist()
    labels
  }
}
