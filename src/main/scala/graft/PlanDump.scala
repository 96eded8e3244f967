package graft

import java.nio.file.{Files, Paths}

/** Dev-only: dump `explain(formatted)` of named queries to
  * `<outDir>/<name>_<suffix>.txt` (collapse-reprinted, like
  * EXPLAIN.md) — used for the optimization rounds' before/after plan
  * evidence under plans/r15/. Iterative operators (ALS half-steps,
  * BFS/star-contraction rounds) execute behind localCheckpoint
  * barriers, so the final plan shows leaves where the rounds ran; the
  * per-round shapes are documented in OPTIMIZATION_r15.md next to the
  * operator code. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSet
    val spark = LocalSpark()
    new java.io.File(outDir).mkdirs()
    SparkEntry.all.filter(d => names(d.name)).foreach { d =>
      val plan = d.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${d.name}_$suffix.txt"),
        Explain.collapseReprints(plan))
      println(s"wrote $outDir/${d.name}_$suffix.txt")
    }
    spark.stop()
  }
}
