package graft

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Golden-hash generator for the full-registry determinism sweep
  * (r10 verdict #1 — make the gate sublinear in registry growth).
  *
  * The r8-r10 sweep ran every registry query TWICE per gate
  * (shuffle partitions 1 and 32) and compared the collected outputs;
  * at 415 queries that measured 24:42 — past the 20-minute target —
  * and grew linearly with every addition. This main bakes the
  * partitions=32 half into a committed golden table: for each query
  * it collects the sf0.001 output at `spark.sql.shuffle.partitions` =
  * 32 and records `name \t rowCount \t sha256(sorted rows)`. The
  * FullDeterminismShard suites then run ONLY the partitions=1 pass
  * and compare against the golden — the same partition-count
  * invariance guarantee at half the executions, and the golden
  * doubles as a cross-SESSION stability pin (a hash that drifts
  * between JVM runs would have failed the driver's DuckDB compare
  * anyway; here it fails at the gate).
  *
  * Shard layout mirrors FullDeterminismShard: goldens live in
  * `tools/determinism_golden_<shard>.tsv` keyed by the same
  * floorMod(name.hashCode, N) predicate, so the four shard suites
  * read disjoint files and four GoldenGen processes (one per shard)
  * can regenerate concurrently without write races.
  *
  * Usage (from the repo root; JVM needs the build.sbt add-opens set):
  *   runMain graft.GoldenGen                  — regenerate everything
  *   runMain graft.GoldenGen --shard 2        — regenerate shard 2
  *   runMain graft.GoldenGen q1,q2            — regenerate named
  *     queries only (merged into their shard files; stale names —
  *     queries no longer in the registry — are dropped at write time)
  */
object GoldenGen {

  val NShards = 6
  val smokeSf = "/root/testdata/sf0.001"

  /** Queries whose smoke-scale sweep cost dominates a shard (the r12
    * tripwire's named list): name-hash placement packed five of them
    * into one shard, so these are spread ROUND-ROBIN by sorted
    * position instead. Deterministic (pure function of the list and
    * NShards), shared by the generator and the shard suites, and the
    * Shard0 meta-test still proves the combined predicate partitions
    * the registry. Keep sorted; membership is cost-based, not
    * semantic — move a name here whenever the tripwire names it. */
  private val heavy = Vector(
    "dedup_components", "dedup_jaccard_prefix", "dq_checks",
    "dq_embedding_profile", "er_blocking_quality", "geo_geom_validity",
    "graph_diameter_2sweep", "graph_ppr", "graph_sssp",
    "ml_learning_curve", "ml_pipeline_als")

  def shardOf(name: String): Int = {
    val i = heavy.indexOf(name)
    if (i >= 0) i % NShards
    else java.lang.Math.floorMod(name.hashCode, NShards)
  }

  def goldenPath(shard: Int): Path =
    Paths.get(s"tools/determinism_golden_$shard.tsv")

  /** Canonical output hash: SHA-256 over the SORTED Row.toString
    * lines (Row.toString carries the full shortest-decimal repr of
    * every double, so a single-ulp drift changes the hash). Shared by
    * the generator and the test sweep — one definition, no skew. */
  def hashRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** golden entries of one shard file: name -> (rowCount, hash) */
  def readShard(shard: Int): Map[String, (Long, String)] = {
    val p = goldenPath(shard)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, c, h) = l.split("\t")
        n -> (c.toLong, h)
      }.toMap
  }

  private def writeShard(shard: Int,
      entries: Map[String, (Long, String)]): Unit = {
    val live = entries.filter { case (n, _) =>
      SparkEntry.queries.contains(n) && shardOf(n) == shard }
    val lines =
      ("# name<TAB>rows<TAB>sha256(sorted Row.toString) at " +
        "spark.sql.shuffle.partitions=32, sf0.001 - regenerate via " +
        "sbt \"runMain graft.GoldenGen --shard " + shard + "\"") +:
      live.toSeq.sortBy(_._1).map { case (n, (c, h)) => s"$n\t$c\t$h" }
    Files.createDirectories(goldenPath(shard).getParent)
    Files.write(goldenPath(shard),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val (shardFilter, nameFilter) = args.toList match {
      case "--shard" :: i :: Nil => (Some(i.toInt), Set.empty[String])
      case names :: Nil => (None, names.split(",").toSet)
      case Nil => (None, Set.empty[String])
      case other => sys.error(s"GoldenGen: bad args $other")
    }
    nameFilter.foreach(n => require(SparkEntry.queries.contains(n),
      s"GoldenGen: unknown query '$n'"))
    val spark = LocalSpark(4)
    val targets = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (n, _) =>
        (shardFilter.isEmpty || shardFilter.contains(shardOf(n))) &&
          (nameFilter.isEmpty || nameFilter(n))
    }
    val fresh = targets.map { case (name, fn) =>
      val t0 = System.nanoTime()
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val rows =
        try fn(spark, smokeSf).collect().map(_.toString).sorted.toSeq
        finally {
          spark.conf.set("spark.sql.shuffle.partitions", "4")
          spark.catalog.clearCache()
        }
      System.err.println(f"[golden] $name rows=${rows.size} " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      name -> (rows.size.toLong, hashRows(rows))
    }.toMap
    val shards =
      if (shardFilter.isDefined) shardFilter.toSeq
      else if (nameFilter.nonEmpty) nameFilter.map(shardOf).toSeq.distinct
      else 0 until NShards
    shards.foreach { s =>
      writeShard(s, readShard(s) ++ fresh.filter(e => shardOf(e._1) == s))
      System.err.println(s"[golden] wrote ${goldenPath(s)}")
    }
    spark.stop()
  }
}
