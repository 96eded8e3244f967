package graft.cache

import graft.SparkSpec
import graft.rel._
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

class CacheSpec extends SparkSpec {

  private def freshManager(): (CacheManager, ParquetDirStorage, String) = {
    val root = Files.createTempDirectory("graft_cache_").toString
    val storage = new ParquetDirStorage(spark, root)
    (new CacheManager(spark, Map("default" -> storage)), storage, root)
  }

  def plan(src: String): Rel = Cache(
    Aggregate(
      ScanParquet(src),
      keys = Seq("rf" -> RCol("l_returnflag")),
      aggs = Seq("n" -> RAgg("count", Nil))),
    "default", "snapshot")

  test("miss computes and stores; hit reads the artifact without recompute") {
    val (mgr, storage, _) = freshManager()
    val p = plan(s"$sfDir/lineitem.parquet")

    val r1 = mgr.execute(p).collect().sortBy(_.getString(0))
    assert(mgr.misses == 1 && mgr.hits == 0)

    val r2 = mgr.execute(p).collect().sortBy(_.getString(0))
    assert(mgr.misses == 1 && mgr.hits == 1)
    assert(r1.toSeq == r2.toSeq)

    // the resolved plan is a plain artifact read — whole subtree pruned
    val resolved = mgr.resolve(p)
    assert(resolved.isInstanceOf[PinnedRead])
    assert(storage.exists(
      resolved.asInstanceOf[PinnedRead].artifactPath.split("/").last))
  }

  test("cache key is stable across plan reconstructions") {
    val (mgr, _, _) = freshManager()
    val k1 = mgr.key(plan(s"$sfDir/lineitem.parquet")
      .asInstanceOf[Cache].input, "snapshot")
    val k2 = mgr.key(plan(s"$sfDir/lineitem.parquet")
      .asInstanceOf[Cache].input, "snapshot")
    assert(k1 == k2)
  }

  test("mtime strategy: touching the source invalidates the key") {
    // private copy of the source so we can bump its mtime
    val tmp = Files.createTempDirectory("graft_src_").toString
    val src = s"$tmp/li.parquet"
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
      .write.parquet(src)

    val (mgr, _, _) = freshManager()
    val inner = Aggregate(ScanParquet(src), Nil,
      Seq("n" -> RAgg("count", Nil)))
    val k1 = mgr.key(inner, "mtime")
    val k1again = mgr.key(inner, "mtime")
    assert(k1 == k1again)

    // bump mtime of one data file
    val dir = Paths.get(src)
    val dataFile = Files.list(dir).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.setLastModifiedTime(dataFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000))
    val k2 = mgr.key(inner, "mtime")
    assert(k1 != k2, "mtime change must produce a new cache key")

    // snapshot strategy is insensitive to the same change
    assert(mgr.key(inner, "snapshot") == mgr.key(inner, "snapshot"))
  }

  test("mtime strategy rejects leaves the filesystem cannot fingerprint") {
    val (mgr, _, _) = freshManager()
    val overBinding = Aggregate(UnboundTable("t", Nil), Nil,
      Seq("n" -> RAgg("count", Nil)))
    val e1 = intercept[IllegalArgumentException](mgr.key(overBinding, "mtime"))
    assert(e1.getMessage.contains("unbound"))
    val overSql = SqlView("SELECT 1 AS x", Nil)
    intercept[IllegalArgumentException](mgr.key(overSql, "mtime"))
    // snapshot accepts both (content identity comes from the plan JSON)
    assert(mgr.key(overBinding, "snapshot").length == 64)
  }

  test("pin requires an artifact; pin/unpin round-trips the plan") {
    val (mgr, _, _) = freshManager()
    val p = plan(s"$sfDir/lineitem.parquet")

    intercept[IllegalArgumentException](mgr.pin(p)) // nothing cached yet

    mgr.execute(p).collect()
    val pinned = mgr.pin(p)
    assert(pinned.isInstanceOf[PinnedRead])

    // pinned plan reads straight from the artifact
    val viaPin = mgr.execute(pinned).collect()
    assert(viaPin.length == 3)

    val unpinned = mgr.unpin(pinned)
    assert(unpinned == p) // exact original Cache(subtree) restored
  }

  test("two different subtrees teed to the SAME sink do not collide " +
    "on one cache key (keys come from the original plan)") {
    val (mgr, _, _) = freshManager()
    val sink = Files.createTempDirectory("graft_tee_key_").toString + "/s"
    def teedCount(src: Rel): Rel = Cache(
      Aggregate(Tee(src, sink), Nil, Seq("n" -> RAgg("count", Nil))),
      "default", "snapshot")
    val x = teedCount(ScanParquet(s"$sfDir/nation.parquet"))
    val y = teedCount(ScanParquet(s"$sfDir/region.parquet"))
    val nx = mgr.execute(x).collect()(0).getLong(0)
    val ny = mgr.execute(y).collect()(0).getLong(0)
    assert(nx == 25 && ny == 5,
      s"each plan must hit its OWN artifact (got $nx/$ny — a shared " +
        "sink must not alias cache keys)")
    assert(mgr.misses == 2)
  }

  test("pins persist: a NEW manager (fresh registry) unpins a plan " +
    "pinned by a previous one via the artifact sidecar") {
    val root = Files.createTempDirectory("graft_pin_").toString
    val p = plan(s"$sfDir/lineitem.parquet")
    val m1 = new CacheManager(spark,
      Map("default" -> new ParquetDirStorage(spark, root)))
    m1.execute(p).collect()
    val pinned = m1.pin(p)

    // a different manager over the same storage — empty in-memory
    // registry, must recover the sub-plan from _graft_plan.json
    val m2 = new CacheManager(spark,
      Map("default" -> new ParquetDirStorage(spark, root)))
    val unpinned = m2.unpin(pinned)
    assert(unpinned == p, "sidecar must restore the exact original plan")

    // a PinnedRead with no sidecar stays pinned (no silent invention)
    val stray = PinnedRead("/nonexistent/path", "deadbeef")
    assert(m2.unpin(stray) == stray)
  }

  test("artifacts persist across managers: a NEW manager over the same " +
    "storage serves a hit (durable cache, unlike df.cache)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cache_")
      .toString
    val p = plan(s"$sfDir/lineitem.parquet")
    val m1 = new CacheManager(spark,
      Map("default" -> new ParquetDirStorage(spark, root)))
    m1.execute(p).collect()
    assert(m1.misses == 1)
    // brand-new manager (fresh session state) → artifact still hits
    val m2 = new CacheManager(spark,
      Map("default" -> new ParquetDirStorage(spark, root)))
    val rows = m2.execute(p).collect()
    assert(m2.hits == 1 && m2.misses == 0)
    assert(rows.length == 3)
  }

  test("TTL storage: fresh artifacts hit; expired ones recompute") {
    val root = java.nio.file.Files.createTempDirectory("graft_ttl_")
      .toString
    val inner = new ParquetDirStorage(spark, root)
    val longTtl = new CacheManager(spark,
      Map("default" -> new TtlStorage(inner, spark, 60 * 60 * 1000L)))
    val p = plan(s"$sfDir/lineitem.parquet")
    longTtl.execute(p).collect()
    longTtl.execute(p).collect()
    assert(longTtl.misses == 1 && longTtl.hits == 1)

    // a 0-ms TTL manager over the SAME artifacts sees them as expired
    val zeroTtl = new CacheManager(spark,
      Map("default" -> new TtlStorage(inner, spark, 0L)))
    zeroTtl.execute(p).collect()
    assert(zeroTtl.misses == 1, "expired artifact must recompute")
  }

  test("different sub-plans never share a key; drop forces recompute") {
    val (mgr, storage, _) = freshManager()
    val a = plan(s"$sfDir/lineitem.parquet")
    val b = Cache(
      Aggregate(ScanParquet(s"$sfDir/lineitem.parquet"),
        keys = Seq("ls" -> RCol("l_linestatus")),
        aggs = Seq("n" -> RAgg("count", Nil))),
      "default", "snapshot")
    val ka = mgr.key(a.asInstanceOf[Cache].input, "snapshot")
    val kb = mgr.key(b.asInstanceOf[Cache].input, "snapshot")
    assert(ka != kb)

    mgr.execute(a).collect()
    assert(storage.exists(ka))
    storage.drop(ka)
    assert(!storage.exists(ka))
    mgr.execute(a).collect()
    assert(mgr.misses == 2)
  }

  test("an exchange artifact is named by the mtime key, and the orphan " +
    "sweep's possible keys are the snapshot and mtime keys") {
    val root = Files.createTempDirectory("graft_cache_exch_").toString
    val mgr = new CacheManager(spark, Map.empty,
      exchanges = Map("warehouse" -> root))
    val input = Filter(ScanParquet(s"$sfDir/nation.parquet"),
      RBin(">", RCol("n_nationkey"), RLit("3", "int")))
    assert(mgr.resolve(Exchange(input, "warehouse")) ==
      ScanParquet(s"$root/${mgr.key(input, "mtime")}"))
    assert(new java.io.File(root).list().toSeq ==
      Seq(mgr.key(input, "mtime")))
    assert(mgr.possibleKeys(input) ==
      Set(mgr.key(input, "snapshot"), mgr.key(input, "mtime")))
  }

  test("hit and miss counters stay exact under concurrent resolve") {
    // a store that only records keys: no Spark job per miss, so many
    // resolves contend on the counters at once
    val root = Files.createTempDirectory("graft_cache_conc_").toString
    val stored = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val storage = new CacheStorage {
      def exists(key: String): Boolean = stored.contains(key)
      def path(key: String): String = s"$root/$key"
      def store(key: String, df: DataFrame): Unit = { stored.add(key); () }
      def drop(key: String): Unit = { stored.remove(key); () }
    }
    val mgr = new CacheManager(spark, Map("default" -> storage))
    // four distinct nodes, each resolved by many threads
    val nodes = (1 to 4).map(k => Cache(
      InMemory(Seq("k" -> "int"), Seq(Seq(k.toString))),
      "default", "snapshot"))
    val (threads, perThread) = (8, 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val done = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            (0 until perThread).foreach(i =>
              mgr.resolve(nodes((t + i) % nodes.size)))
          }
        })
      }
      start.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()
    assert(mgr.hits + mgr.misses == threads * perThread)
    assert(mgr.misses >= nodes.size && stored.size == nodes.size)
  }
}
