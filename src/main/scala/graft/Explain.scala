package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain(formatted)` of every bench headliner to EXPLAIN.md —
  * the design-for-100TB audit trail: check that filters reach the scan
  * (PushedFilters), projections prune (ReadSchema), dimension joins
  * broadcast, and operator pipelines stay inside WholeStageCodegen.
  * Regenerate with: sbt "runMain graft.Explain /root/testdata/sf0.01".
  */
object Explain {

  /** Collapse REPRINTED subtrees in a formatted plan (r12 verdict ask
    * #5): Spark's formatted explain reprints the full child plan of a
    * persisted/reused relation at EVERY reference site (plus once more
    * in each `== Initial Plan ==` section) — the two SetSimJoin
    * headliners alone reprinted ~12k of EXPLAIN.md's 18k lines. Node
    * ids are unique per plan and a reprint reuses the ids of the first
    * occurrence, so: in TREE lines (connector-prefixed `+- ` / `:-`),
    * a node id seen before starts a reused run — keep its first line,
    * tag it `[reused: see (id) above]`, and drop the contiguous
    * already-seen remainder. A run ends at the first unseen id OR at
    * any tree line whose connector depth is <= the depth of the line
    * that started the run (driver ADVICE r13): a sibling branch
    * opening at the same-or-shallower indentation is NOT part of the
    * reused subtree even when its line carries no (id), so depth —
    * not id sightings alone — bounds the skip. Detail sections
    * (`(N) NodeName` at column 0) print once per id already and pass
    * through untouched, as does
    * everything else — the audit content (PushedFilters, ReadSchema,
    * join strategies, codegen spans) is intact, each subtree printed
    * exactly once. */
  def collapseReprints(plan: String): String = {
    val idRe = """\((\d+)\)""".r
    val seen = scala.collection.mutable.Set.empty[Int]
    val out = new StringBuilder
    var skipping = false
    var skipDepth = -1
    var dropped = 0
    // column of the line's tree connector: a later line whose
    // connector sits at <= this column is a sibling/ancestor, not a
    // descendant of the subtree that started a skip run
    def connDepth(line: String): Int = {
      val a = line.indexOf("+- ")
      val b = line.indexOf(":- ")
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    }
    plan.split("\n", -1).foreach { line =>
      val t = line.trim
      val treeLike = (line.contains("+- ") || t.startsWith(":-") ||
        t.startsWith(": ")) && !t.startsWith("(")
      if (treeLike) {
        val d = connDepth(line)
        // depth bound (ADVICE r13): a connector at or above the run's
        // start depth opens a sibling branch — the reused subtree is
        // over even if this line carries no node id
        if (skipping && d >= 0 && d <= skipDepth) skipping = false
        idRe.findFirstMatchIn(line).map(_.group(1).toInt) match {
          case Some(n) if seen(n) =>
            if (!skipping) {
              out.append(line)
                .append(s"   [reused: see ($n) above]\n")
              skipping = true
              skipDepth = d
            } else dropped += 1
          case Some(n) =>
            seen += n; skipping = false
            out.append(line).append('\n')
          case None =>
            if (skipping) dropped += 1
            else out.append(line).append('\n')
        }
      } else {
        skipping = false
        out.append(line).append('\n')
      }
    }
    if (dropped > 0)
      out.append(s"[$dropped reprinted subtree lines collapsed — " +
        "each reused subtree is printed once, at its first reference]\n")
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/root/repo/EXPLAIN.md"
    val spark = LocalSpark(4)

    val sb = new StringBuilder
    sb.append("# EXPLAIN — bench headliner physical plans\n\n")
    sb.append(s"Generated from `$sfDir` (regenerate: " +
      "`sbt \"runMain graft.Explain\"`). Audit checklist per plan: " +
      "filters pushed to the scan (`PushedFilters`), column pruning " +
      "(`ReadSchema`), broadcast joins for dim tables, " +
      "`WholeStageCodegen` spans over the hot path.\n")
    SparkEntry.benchQueries.foreach { d =>
      sb.append(s"\n## ${d.name}\n\n```\n")
      val plan = d.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(collapseReprints(plan))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
