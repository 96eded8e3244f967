package graft

import org.apache.spark.sql.graft.Meter

/** Dev-only stage-level probe: meters registry queries end to end with
  * the noop sink, so the computation is measured, not the sink. Each
  * query runs twice (cold, then warm), and each run prints one line
  * with seconds, jobs, stages, tasks and shuffle MB written and read,
  * then one line per completed stage ([[Meter]]). The stage lines are
  * the evidence for per-round job-cadence and exchange work on
  * iterative operators, whose logical plans hide the rounds behind
  * checkpoint leaves. Outside the Verify/Bench contract; never
  * registered in SparkEntry. An unknown name exits with status 2 and
  * lists the valid ones. Usage:
  *   runMain graft.Probe <sfDir> q:<name>[,q:<name>...] */
object Probe {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(
        "usage: runMain graft.Probe <sfDir> q:<name>[,q:<name>...]")
      sys.exit(2)
    }
    val Array(sfDir, list) = args
    val byName = SparkEntry.all.map(d => s"q:${d.name}" -> d).toMap
    val names = list.split(",").toSeq
    val unknown = names.filterNot(byName.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"Probe: unknown ${unknown.mkString(", ")}; " +
        s"valid: ${byName.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = LocalSpark()
    try names.map(byName).foreach { d =>
      (1 to 2).foreach { run =>
        val label = s"${d.name}#$run"
        val (_, m) = Meter(spark.sparkContext) {
          d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        println(f"[meter] $label%-34s ${m.summary}")
        m.stageLines.foreach(println)
        spark.catalog.clearCache(); System.gc()
      }
    } finally spark.stop()
  }
}
