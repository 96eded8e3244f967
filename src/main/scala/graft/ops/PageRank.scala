package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an (src, dst) edge DataFrame — the
  * iterative-graph-analytics companion to [[Components]] (alternating
  * star contraction) on the same "graphs are DataFrames" stance: each
  * round is two equi-joins and an aggregation keyed by node, the
  * dangling-mass redistribution is a 1-row broadcast scalar, and the
  * per-round `localCheckpoint` cuts lineage exactly like the
  * components loop. No driver-side graph, no vertex collect — node
  * count is the only scalar action.
  *
  * Semantics: standard damped PageRank with uniform teleport and
  * dangling-node mass spread uniformly,
  * `r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)/outdeg(u) + dangling/N)`.
  * Pinned small iteration counts are SQL-replicable by unrolling the
  * rounds as chained CTEs (the logreg/Vincenty oracle pattern).
  *
  * Determinism note (r7 advisor): the teleport constant is computed as
  * `1 - damping` IN DOUBLE ARITHMETIC (for d=0.85 that is one ulp above
  * the literal 0.15), so any bit-matching oracle must write the same
  * expression — `(1.0 - 0.85)` — not the `0.15` literal, or the two
  * engines iterate with different constants.
  */
object PageRank {

  /** Ranks after `iters` rounds from a uniform start; output columns
    * (node, rank) where ranks sum to 1 up to FP noise. `edges` must
    * have `src`/`dst` string-or-numeric columns; parallel duplicates
    * are collapsed (simple-graph convention, matching the oracle's
    * SELECT DISTINCT). */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one round, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0,1), got $damping")
    // partition the edge relation by src ONCE (the Bfs lesson): the
    // cached InMemoryRelation keeps its HashPartitioning, so when the
    // per-round contrib join stays sort-merge (big-graph regime) only
    // the rank side exchanges; and the rank/outdeg vectors — n rows,
    // counted anyway — get count-driven broadcast hints below the
    // threshold (JoinHints), which drops every per-round exchange of
    // the edge relation at once.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count().toDouble
    val nRows = n.toLong
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
    val outdegB = JoinHints.maybeBroadcast(outdeg, nRows)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    (1 to iters).foreach { round =>
      val ranksB = JoinHints.maybeBroadcast(ranks, nRows)
      // left_anti builds its RIGHT side — hint outdeg, not ranks
      val dangling = ranks.join(outdegB, ranks("node") === outdeg("src"),
          "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contrib = e.join(ranksB, e("src") === ranksB("node"))
        .join(outdegB, "src")
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      ranks = nodes.join(JoinHints.maybeBroadcast(contrib, nRows),
          Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") / n))
            .as("rank"))
        // LAZY checkpoint (r16, guide §2.4 fused actions): the round
        // still computes exactly once and cuts lineage, but it
        // materializes inside the NEXT round's first consumer job
        // (the rank-vector broadcast build / dangling aggregate)
        // instead of paying a dedicated eager job per round; the
        // join decisions don't need leaf stats — the rank/contrib
        // hints are count-driven from the one node count above. The
        // LAST round is eager: it runs every pending round now, while
        // the edge/outdeg/node caches below are still persisted, not
        // at the caller's first action after they are dropped
        .localCheckpoint(eager = round == iters)
    }
    e.unpersist(); outdeg.unpersist(); nodes.unpersist()
    ranks
  }

  /** Personalized PageRank (topic-sensitive; Haveliwala 2002): teleport
    * mass — both the (1−d) restart and the dangling redistribution —
    * flows only to `sources` (uniformly) instead of all nodes. Ranks
    * measure proximity to the source set; nodes unreachable from it
    * converge to 0. Same per-round join/aggregate shape and lineage
    * cuts as [[run]]; the per-node teleport weight rides along as a
    * column of the node frame so no extra join is paid per round. */
  def personalized(
      edges: DataFrame,
      sources: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pagerank needs at least one round, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0,1), got $damping")
    // same once-partitioned edge cache + count-driven hints as [[run]]
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val src = sources.select(col("node")).distinct().persist()
    val nSrc = src.count().toDouble
    require(nSrc > 0, "personalized pagerank needs a non-empty source set")
    val tpNodes = nodes
      .join(src.withColumn("__tp", lit(1.0 / nSrc)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__tp"), lit(0.0)).as("tp"))
      .persist()
    val nRows = tpNodes.count()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
    val outdegB = JoinHints.maybeBroadcast(outdeg, nRows)
    var ranks = tpNodes.select(col("node"), col("tp").as("rank"))
    (1 to iters).foreach { round =>
      val ranksB = JoinHints.maybeBroadcast(ranks, nRows)
      val dangling = ranks.join(outdegB, ranks("node") === outdeg("src"),
          "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contrib = e.join(ranksB, e("src") === ranksB("node"))
        .join(outdegB, "src")
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      ranks = tpNodes.join(JoinHints.maybeBroadcast(contrib, nRows),
          Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(1 - damping) * col("tp") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dm") * col("tp")))
            .as("rank"))
        // lazy per-round cut, eager last round: same reasoning as [[run]]
        .localCheckpoint(eager = round == iters)
    }
    e.unpersist(); outdeg.unpersist(); tpNodes.unpersist(); src.unpersist()
    ranks
  }
}
