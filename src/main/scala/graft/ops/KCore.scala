package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition — iterative peeling of nodes with degree < k,
  * the standard graph-cleaning pass (Seidman 1983) used to drop sparse
  * periphery before community/embedding work.
  *
  * Distributed shape per round: one explode of the (undirected,
  * deduplicated) edge list into endpoint incidences, one groupBy(node)
  * degree count, and two broadcast-able LEFT ANTI joins to drop edges
  * touching a peeled node — all plain equi-join/aggregate work AQE can
  * re-plan; no per-node adjacency state, no driver-side graph. Lineage
  * is cut per round with localCheckpoint (the Components.scala pattern)
  * so the plan does not grow with iteration count.
  *
  * Two entry points: [[peelRounds]] pins the round count (oracle-able by
  * CTE unrolling — a fixpoint reached early is stable, extra rounds are
  * no-ops), [[core]] loops to convergence with a distributed stop test.
  */
object KCore {

  /** Canonicalize to undirected distinct edges u < v, dropping loops. */
  private def canon(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).na.drop()
      .distinct()

  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Drop edges touching a weak node. `weakRows` (when known — the
    * peel loops track the edge count anyway, and #nodes ≤ 2·#edges)
    * lets the anti-joins build the weak set as a broadcast instead of
    * re-exchanging the edge relation twice per round (guide §3.1; the
    * checkpointed rounds have no size statistics, so the planner
    * defaulted to SortMergeJoin). Past the threshold — the 100 TB
    * early rounds — sort-merge stays. */
  private def dropWeak(e: DataFrame, weak: DataFrame,
                       weakRows: Long = -1L): DataFrame = {
    val wu = JoinHints.maybeBroadcast(
      weak.select(col("node").as("u")), weakRows)
    val wv = JoinHints.maybeBroadcast(
      weak.select(col("node").as("v")), weakRows)
    e.join(wu, Seq("u"), "left_anti")
      .join(wv, Seq("v"), "left_anti")
      .select("u", "v")
  }

  /** `rounds` fixed peel iterations of the k-core filter; returns the
    * surviving edge set. A graph that converges earlier is unchanged by
    * the extra rounds, so pinning the count preserves semantics for any
    * graph whose core stabilizes within `rounds`. */
  def peelRounds(edges: DataFrame, src: String, dst: String,
                 k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = canon(edges, src, dst)
    var i = 0
    while (i < rounds) {
      val weak = degrees(e).filter(col("deg") < k)
      // no count-driven hint here: peelRounds is the count-free fast
      // path, and an A/B at sf0.1 measured the per-round count jobs
      // costing more than the broadcast anti-joins saved
      // (1.65/1.59 s -> 1.85/1.90 s cold/warm) — core() below hints
      // for free from the convergence counts it already takes
      e = dropWeak(e, weak).localCheckpoint(true)
      i += 1
    }
    e
  }

  /** Peel to convergence: loops until a round removes no edge. The only
    * driver-side values are the per-round edge counts (one Long each);
    * everything else stays distributed. */
  def core(edges: DataFrame, src: String, dst: String, k: Int,
           maxRounds: Int = 200): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // FUSED per-round materialization (r16, the Bfs/Components seam):
    // lazy checkpoint + the convergence count the loop already takes
    // run one job fewer than eager-checkpoint-then-count, and
    // the leaf keeps exact measured stats for downstream planning
    val ckc = org.apache.spark.sql.graft.StatsCheckpoint
      .localCheckpointWithStatsAndCount(_)
    var (e, n) = ckc(canon(edges, src, dst))
    var i = 0
    var converged = n == 0
    while (!converged && i < maxRounds) {
      val weak = degrees(e).filter(col("deg") < k)
      val (next, m) = ckc(dropWeak(e, weak, 2 * n))
      converged = m == n
      e = next; n = m; i += 1
    }
    // a partially-peeled graph is NOT a k-core — long path graphs peel
    // only from the ends (2 nodes/round), so hitting the bound must be
    // loud, never a silently-wrong result
    if (!converged) throw new IllegalStateException(
      s"KCore.core: not converged after $maxRounds rounds " +
        s"($n edges remain) — raise maxRounds")
    e
  }

  /** Nodes of the k-core with their within-core degrees. */
  def coreDegrees(edges: DataFrame, src: String, dst: String,
                  k: Int): DataFrame =
    degrees(core(edges, src, dst, k)).orderBy("node")
}
