package xorqbench

import graft.api._
import graft.api.dsl._
import graft.build.Build
import graft.cache.ParquetDirStorage
import graft.rel._
import org.apache.spark.sql.SparkSession
import java.nio.file.Path
import scala.collection.mutable

/** `author_hit`: one client composes one of the three [[Plans]] per
  * operation, executes it through the cache and checks the result.
  * Set-up warms every (plan, strategy) artifact, so every operation is
  * a cache hit.
  *
  * The strategy alternates snapshot / mtime by operation; the plan
  * order is a seeded permutation of the three plans per block of three,
  * so every run sees the plans in equal shares. Every operation also
  * saves its plan as a build artifact and loads it back (`xorq build`
  * then `xorq run`). */
final class Algebra(spark: SparkSession, fx: Fixtures, root: Path,
    seed: Long, trace: Trace, plant: Boolean)
    extends Workload {

  private val rng = new scala.util.Random(seed)
  private val g = new GraftSession(spark,
    storages = Map("default" ->
      new ParquetDirStorage(spark, root.resolve("cache").toString)),
    exchangeRoots = Map.empty)
  private val builds = root.resolve("builds").toString
  private val cm = g.cacheManager
  /** Misses the cache manager served since this set-up began. */
  def cacheMisses: Int = cm.misses

  private var order = Vector.empty[String]
  /** Operation `k`'s plan; negative `k` are untimed warm-up operations. */
  private def planOf(k: Int): String =
    if (k < 0) Plans.names(Math.floorMod(k, Plans.names.size))
    else {
      while (order.size <= k) order ++= rng.shuffle(Plans.names)
      order(k)
    }
  val cycle: Int = Plans.names.size
  private def strategyOf(k: Int) =
    if (Math.floorMod(k, 2) == 0) "snapshot" else "mtime"

  /** Expected checksums by plan, from the uncached lowering. */
  private val expected = mutable.Map.empty[String, (Long, Long)]
  /** Each plan as composed in set-up, for the reference results. */
  private val composed = mutable.Map.empty[String, Rel]

  def setup(): Unit = {
    // warm every artifact under both strategies; the plans are
    // independent, so they are composed and resolved concurrently
    composed ++= Env.parallel(Plans.names.map(p =>
      () => p -> Plans.compose(g, fx, p, "snapshot").rel))
    Env.parallel(for ((_, rel) <- composed.toSeq; s <- Seq("snapshot", "mtime"))
      yield () => cm.resolve(Plans.withStrategy(rel, s), g.bindings))
  }

  def reference(): Unit = {
    expected ++= Env.parallel(composed.toSeq.map { case (p, rel) =>
      () => p -> Env.checksum(new Lower(spark, Map.empty, g.functions)
        .lower(RelHash.cacheRelevant(rel)))
    })
    if (plant) expected(planOf(0)) = Report.wrong(expected(planOf(0)))
  }

  def operation(k: Int): Op = {
    val plan = planOf(k)
    val op = new Op(k, plan)
    val cs = metered(op) {
      op.startNs = System.nanoTime()
      val a0 = Probes.analyses.get
      val t = trace.step(op, "api.construct_ms")(
        Plans.compose(g, fx, plan, strategyOf(k)))
      if (trace.on) op.add("api.construct_calls", Probes.analyses.get - a0)
      val rel = t.rel
      val cs = if (!trace.on) {
        checkBuild(op, rel, Build.load(builds, t.save(builds).hash))
        Env.checksum(t.execute())
      } else tracedExecute(op, t)
      op.endNs = System.nanoTime()
      cs
    }
    if (k >= 0 && cs != expected(plan))
      op.fail(s"$plan checksum $cs, expected ${expected(plan)}")
    op
  }

  private def checkBuild(op: Op, rel: Rel, loaded: Rel): Unit =
    if (loaded != rel) op.fail("Build.load returned a different plan")

  /** The steps `execute()` composes, called one at a time. */
  private def tracedExecute(op: Op, t: GraftTable): (Long, Long) = {
    val rel = t.rel
    val json = trace.step(op, "rel.json_ms")(RelJson.write(rel))
    op.add("rel.json_bytes", json.getBytes("UTF-8").length)
    trace.step(op, "rel.hash_ms")(RelHash.sha256(json))
    val cjson = trace.step(op, "rel.json_ms")(
      RelJson.write(RelHash.cacheRelevant(rel)))
    trace.step(op, "rel.hash_ms")(RelHash.sha256(cjson))
    trace.step(op, "rel.parse_ms")(RelJson.parse(json))
    val art = trace.step(op, "build.save_ms")(Build.save(rel, builds))
    checkBuild(op, rel,
      trace.step(op, "build.load_ms")(Build.load(builds, art.hash)))
    val listed0 = Probes.listed.get
    trace.step(op, "cache.key_ms")(Plans.cachePoints(rel).foreach {
      case (in, s) => cm.key(in, s) })
    op.add("cache.files_listed", Probes.listed.get - listed0)
    val (h0, m0) = (cm.hits, cm.misses)
    val resolved = trace.step(op, "cache.resolve_ms")(cm.resolve(rel, g.bindings))
    op.add("cache.hits", cm.hits - h0)
    op.add("cache.misses", cm.misses - m0)
    val df = trace.step(op, "rel.lower_ms")(
      new Lower(spark, g.bindings, g.functions).lower(resolved))
    trace.step(op, "action_ms")(Env.checksum(df))
  }

  def verify(ops: Seq[Op]): Unit = ()
  def release(): Unit = ()
  def teardown(): Unit = ()
}
