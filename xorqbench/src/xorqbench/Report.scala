package xorqbench

import java.nio.file.{Files, Path}

/** What a workload provides to the measurement loop in [[Main]]. */
trait Workload {
  /** Workload-specific set-up, timed as part of `setup_s`. */
  def setup(): Unit
  /** Expected outputs for inputs known before the window (untimed). */
  def reference(): Unit
  def operation(k: Int): Op
  /** Operations in one round of the workload's mix. The window ends on
    * a whole round, so every run measures the same mix. */
  def cycle: Int
  /** Output checks that need the window's inputs (untimed). */
  def verify(ops: Seq[Op]): Unit
  /** Drop the benchmark's own buffers before the heap is measured. */
  def release(): Unit
  def teardown(): Unit

  /** Set for the traced window: counts are read around each operation. */
  var meter: Option[Meter] = None

  /** Runs `f`, adding to `op` the listener counts it caused when the
    * run is traced. */
  protected def metered[T](op: Op)(f: => T): T = {
    val before = meter.map(_.snapshot())
    val r = f
    for (b <- before; m <- meter)
      Report.counters(Meter.delta(b, m.snapshot())).foreach { case (k, v) => op.add(k, v) }
    r
  }
}

/** Metric names, units and aggregation. */
object Report {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s", "heap_mb" -> "MB")

  /** Per-layer metrics, timed by the benchmark's step timer: median
    * over operations. */
  val stepped: Seq[String] = Seq(
    "api.construct_ms", "rel.json_ms", "rel.hash_ms", "rel.parse_ms",
    "rel.lower_ms", "cache.key_ms", "cache.resolve_ms", "build.save_ms",
    "build.load_ms", "arrow.encode_ms", "arrow.decode_ms",
    "serve.ttfb_ms", "serve.stream_ms")

  /** Per-layer metrics counted per operation: mean per operation. */
  val counted: Seq[(String, String)] = Seq(
    "api.construct_calls" -> "count", "rel.json_bytes" -> "B",
    "cache.files_listed" -> "count", "cache.hits" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.exchanges" -> "count",
    "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.gc_ms" -> "ms",
    "arrow.bytes_sent" -> "B", "arrow.bytes_received" -> "B")

  /** Whole-run per-layer metrics. `cache.misses` and `cache.store_mb`
    * count from the start of the last set-up, whose cache warm-up is
    * the store path. */
  val whole: Seq[(String, String)] = Seq(
    "cache.misses" -> "count",
    "cache.hit_ratio" -> "ratio", "cache.store_mb" -> "MB",
    "serve.http_errors" -> "count",
    "trace.op_p50_ms" -> "ms", "trace.self_sum_ms" -> "ms")

  val perLayer: Seq[(String, String)] =
    stepped.map(_ -> "ms") ++ counted ++ whole

  /** Meter deltas in per-layer units. */
  def counters(d: Map[String, Long]): Map[String, Double] = {
    val mb = 1048576.0
    Map(
      "catalyst.analysis_ms" -> d("catalyst.analysis_ms").toDouble,
      "catalyst.optimization_ms" -> d("catalyst.optimization_ms").toDouble,
      "catalyst.planning_ms" -> d("catalyst.planning_ms").toDouble,
      "catalyst.exchanges" -> d("catalyst.exchanges").toDouble,
      "spark.exec_ms" -> d("spark.exec_us") / 1e3,
      "spark.jobs" -> d("spark.jobs").toDouble,
      "spark.stages" -> d("spark.stages").toDouble,
      "spark.tasks" -> d("spark.tasks").toDouble,
      "spark.shuffle_write_mb" -> d("spark.shuffle_write_b") / mb,
      "spark.shuffle_read_mb" -> d("spark.shuffle_read_b") / mb,
      "spark.spill_mb" -> d("spark.spill_b") / mb,
      "spark.input_mb" -> d("spark.input_b") / mb,
      "spark.output_mb" -> d("spark.output_b") / mb,
      "spark.gc_ms" -> d("spark.gc_ms").toDouble)
  }

  /** A planted wrong expectation for the self-test. */
  def wrong(cs: (Long, Long)): (Long, Long) = (cs._1 + 1, cs._2 ^ 1L)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest latency. Returns (value, percentile, samples
    * beyond). With twenty or fewer samples that percentile is at or
    * below the median; the tail is then the median of the slowest
    * third of the samples (rounded up to an odd count), so one
    * operation that a burst of host steal slowed does not set it. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val beyond = if (n > 20) 10 else (n + 2) / 3 / 2
    if (n == 0) (0.0, 0.0, 0)
    else (s(n - 1 - beyond), 100.0 * (n - beyond) / n, beyond)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  // ------------------------------------------------------------- JSON
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def metrics(ms: Seq[(String, String, Double)]): String =
    obj(ms.map { case (n, u, v) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
