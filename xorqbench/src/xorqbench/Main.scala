package xorqbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark JVM: sets a workload up several times, drives it in a
  * closed loop for the measured window, checks every output and writes
  * `result.json` (the result line) and `detail.json` (noise figure,
  * tail percentile, failures, layer detail) to `--out`.
  *
  * {{{
  * Main --workload author_hit|serve_exchange --seed N
  *      --seconds S --trace 0|1 --work DIR --out DIR --tables DIR
  *      [--sf 0.1] [--plant-wrong 1]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: Double, work: Path, out: Path, tables: Path,
      plantWrong: Boolean)

  val workloads = Seq("author_hit", "serve_exchange")
  /** Set-ups per run; `setup_s` is their median, so the first set-up's
    * cold JVM does not set it. */
  val setupReps = 3
  /** Untimed operations before the window, so it starts with the JIT
    * and Spark's lazy state settled. With 1 s, author_hit's latencies
    * still fell by about a tenth across the window; 5 s is about one
    * operation per (plan, strategy). */
  val warmSeconds = 5.0

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def get(k: String, d: => String) = m.getOrElse(k, d)
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      get("trace", "0") == "1", get("sf", "0.1").toDouble,
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      Paths.get(m("tables")).toAbsolutePath, get("plant-wrong", "0") == "1")
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val failed = run(a)
    sys.exit(if (failed == 0) 0 else 3)
  }

  /** One measured run; returns the number of failed operations. */
  def run(a: Args): Int = {
    Files.createDirectories(a.out)
    val steal0 = Env.stealSeconds()
    val load0 = Env.load1()
    val trace = new Trace(false)
    var spark: SparkSession = null
    var wl: Workload = null
    var root: Path = null
    val setups = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      val r = f
      phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
      r
    }
    // the tables are generated untimed by the first run that needs them
    // and kept for later runs; each set-up stages a copy, so set-up
    // time is the program's and not the generator's
    if (!Files.exists(a.tables)) {
      val s = Env.session(a.work.resolve("generate"), a.trace)
      val tmp = a.work.resolve("tables")
      phase("generate")(Fixtures.generate(s, tmp.toString, a.sf))
      s.stop()
      Files.createDirectories(a.tables.getParent)
      Files.move(tmp, a.tables, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    for (r <- 0 until setupReps) {
      if (wl != null) wl.teardown()
      if (spark != null) spark.stop()
      if (root != null) Env.deleteTree(root)
      root = a.work.resolve(s"setup$r")
      val t0 = System.nanoTime()
      spark = phase("session")(Env.session(root, a.trace))
      val fx = phase("fixtures")(Fixtures.stage(a.tables, root.resolve("fixtures")))
      // JVM and codegen warm-up, as graft.Bench does
      phase("warmup")(spark.range(100000).selectExpr("id % 7 k", "id v")
        .groupBy("k").count().collect())
      wl = phase("workload")(a.workload match {
        case "author_hit" =>
          new Algebra(spark, fx, root, a.seed, trace, a.plantWrong)
        case "serve_exchange" =>
          new Serve(spark, fx, a.seed, trace, a.plantWrong)
      })
      phase("workload")(wl.setup())
      setups += (System.nanoTime() - t0) / 1e9
    }
    phase("reference")(wl.reference())
    phase("warm_ops") {
      val until = System.nanoTime() + (warmSeconds * 1e9).toLong
      var k = -1
      while (System.nanoTime() < until) { wl.operation(k); k -= 1 }
    }

    val meter = if (a.trace) Some(new Meter(spark)) else None
    wl.meter = meter
    trace.on = a.trace
    if (a.trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sessionState.newHadoopConf())
      require(fs.isInstanceOf[CountingLocalFs],
        s"traced run reads local files through ${fs.getClass}, not CountingLocalFs")
    }
    System.gc()
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val windowSteal0 = Env.stealSeconds()
    while (System.nanoTime() < deadline || ops.size % wl.cycle != 0) {
      val k = ops.size
      val s = System.nanoTime()
      val steal = Env.stealSeconds()
      val op = try wl.operation(k) catch {
        case e: Exception =>
          val op = new Op(k, "error")
          op.startNs = s; op.endNs = System.nanoTime()
          op.fail(e.toString)
          op
      }
      op.stealS = Env.stealSeconds() - steal
      ops += op
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val windowSteal = Env.stealSeconds() - windowSteal0
    trace.on = false
    val all = ops.toSeq
    wl.verify(all)
    // the cache store path runs in set-up, which writes every artifact
    val storeMb = Report.treeBytes(root.resolve("cache")) / 1048576.0
    val setupMisses = wl match {
      case w: Algebra => w.cacheMisses
      case _ => 0
    }
    wl.release()
    val heap = Env.heapMb()
    wl.teardown()
    meter.foreach(_.close())
    val conf = Env.confSummary(spark)
    spark.stop()
    Env.deleteTree(root)

    // ---------------------------------------------------------- metrics
    val lat = all.map(_.ms)
    val good = all.count(_.ok)
    val bad = all.size - good
    val (tailV, tailP, tailN) = Report.tail(lat)
    val e2e = Map(
      "setup_s" -> Report.median(setups.toSeq),
      "op_p50_ms" -> Report.median(lat), "op_tail_ms" -> tailV,
      "ops_per_s" -> good / windowS,
      "heap_mb" -> heap)
    val e2eOut = Report.endToEnd.map { case (n, u) => (n, u, e2e(n)) }
    val layer: Map[String, Double] = if (!a.trace) Map.empty else {
      def col(k: String) = all.map(_.layer.getOrElse(k, 0.0))
      val hits = col("cache.hits").sum
      val misses = col("cache.misses").sum
      Report.stepped.map(k => k -> Report.median(col(k))).toMap ++
        Report.counted.map { case (k, _) => k -> Report.mean(col(k)) }.toMap ++ Map(
          "cache.hit_ratio" -> (if (hits + misses > 0) hits / (hits + misses) else 0.0),
          "cache.misses" -> setupMisses.toDouble,
          "cache.store_mb" -> storeMb,
          "serve.http_errors" -> col("serve.http_errors").sum,
          "trace.op_p50_ms" -> Report.median(lat),
          "trace.self_sum_ms" -> Report.median(col("trace.self_sum_ms")))
    }
    val metricsOut =
      if (a.trace) Report.perLayer.map { case (n, u) => (n, u, layer(n)) }
      else e2eOut
    val result = Report.obj(Seq(
      "correct" -> (if (bad == 0) "true" else "false"),
      "attempted" -> all.size.toString, "failed" -> bad.toString,
      "metrics" -> Report.metrics(metricsOut)))
    Files.writeString(a.out.resolve("result.json"), result + "\n")

    val failures = all.filterNot(_.ok).take(5).map(o => Report.str(s"op ${o.id}: ${o.error}"))
    val detail = Report.obj(Seq(
      "workload" -> Report.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"), "sf" -> Report.num(a.sf),
      "end_to_end" -> Report.metrics(e2eOut),
      "fail_frac" -> Report.num(if (all.isEmpty) 0 else bad.toDouble / all.size),
      "op_tail_percentile" -> Report.num(tailP),
      "op_tail_samples_beyond" -> tailN.toString,
      "setup_s_each" -> setups.map(Report.num).mkString("[", ",", "]"),
      "phase_s_total" -> Report.obj(phases.toSeq.map { case (k, v) => k -> Report.num(v) }),
      "window_s" -> Report.num(windowS),
      "op_ms" -> all.map(o => s"[${Report.str(o.kind)},${Report.num(o.ms)},${Report.num(o.stealS)}]")
        .mkString("[", ",", "]"),
      "noise" -> Report.obj(Seq(
        "steal_s" -> Report.num(Env.stealSeconds() - steal0),
        "steal_window_s" -> Report.num(windowSteal),
        "load1_start" -> Report.num(load0), "load1_end" -> Report.num(Env.load1()),
        "nproc" -> Env.nproc.toString,
        "spark_conf" -> Report.obj(conf.toSeq.sorted.map { case (k, v) => k -> Report.str(v) }))),
      "per_plan_structure" -> structure(all, a.trace),
      "failures" -> failures.mkString("[", ",", "]")))
    Files.writeString(a.out.resolve("detail.json"), detail + "\n")
    trace.write(a.out.resolve("spans.jsonl"))
    bad
  }

  /** Structural counts per operation kind, with every distinct value
    * seen, so a count that does not repeat exactly shows. */
  private def structure(all: Seq[Op], traced: Boolean): String =
    if (!traced) "{}"
    else Report.obj(all.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      kind -> Report.obj(Seq("spark.jobs", "spark.stages", "catalyst.exchanges",
        "cache.hits", "cache.misses", "cache.files_listed",
        "api.construct_calls").map { k =>
        val vs = os.map(_.layer.getOrElse(k, 0.0)).distinct.sorted
        k -> vs.map(Report.num).mkString("[", ",", "]")
      })
    })
}
