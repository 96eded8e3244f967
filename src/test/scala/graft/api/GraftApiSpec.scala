package graft.api

import graft.SparkSpec
import graft.api.dsl._
import graft.rel._
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Meter
import org.apache.spark.sql.functions.{col => c0}

class GraftApiSpec extends SparkSpec {

  def session = new GraftSession(spark)

  test("fluent pipeline builds, hashes, serializes, and executes") {
    val g = session
    val revenue = g.readParquet(s"$sfDir/lineitem.parquet")
      .filter(c("l_quantity") > i(30))
      .groupBy("rf" -> c("l_returnflag"))(
        "n" -> countAll,
        "qty" -> fn("round", agg("sum", c("l_quantity")), i(2)))
      .orderBy(asc(c("rf")))

    assert(revenue.schema.fieldNames.toSeq == Seq("rf", "n", "qty"))
    assert(revenue.buildHash.length == 64)
    // structural identity: rebuilding the same pipeline → same hash
    val again = g.readParquet(s"$sfDir/lineitem.parquet")
      .filter(c("l_quantity") > i(30))
      .groupBy("rf" -> c("l_returnflag"))(
        "n" -> countAll,
        "qty" -> fn("round", agg("sum", c("l_quantity")), i(2)))
      .orderBy(asc(c("rf")))
    assert(revenue.buildHash == again.buildHash)

    val rows = revenue.execute().collect()
    assert(rows.length == 3)
  }

  test("column selectors: numeric/string/prefix/regex select, drop, " +
    "across, and combinators expand in schema order") {
    import Selectors._
    val g = session
    val li = g.readParquet(s"$sfDir/lineitem.parquet")

    // type selectors
    val nums = li.selectCols(numeric)
    assert(nums.schema.fields.forall(_.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]))
    assert(nums.schema.fieldNames.contains("l_quantity"))
    val strs = li.selectCols(string)
    assert(strs.schema.fieldNames.contains("l_returnflag") &&
      !strs.schema.fieldNames.contains("l_quantity"))

    // name selectors + combinators; order follows the SCHEMA, not the
    // selector
    val picked = li.selectCols(startsWith("l_ship") || cols("l_orderkey"))
    assert(picked.schema.fieldNames.head == "l_orderkey")
    assert(picked.schema.fieldNames.forall(n =>
      n.startsWith("l_ship") || n == "l_orderkey"))
    assert(li.selectCols(matches("_(ship|receipt)date$"))
      .schema.fieldNames.forall(_.endsWith("date")))

    // drop is the complement
    val dropped = li.dropCols(numeric)
    assert(dropped.schema.fieldNames.toSeq ==
      li.schema.fieldNames.toSeq.filterNot(
        nums.schema.fieldNames.toSet))

    // across rewrites selected columns, keeps the rest verbatim, and
    // stays a serializable Project in the algebra
    val across1 = li.selectCols(cols("l_orderkey", "l_quantity", "l_tax"))
      .across(numeric && !cols("l_orderkey"))(
        (_, col0) => fn("round", col0 * d(2.0), i(1)))
    assert(across1.schema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_quantity", "l_tax"))
    val row = across1.filter(c("l_orderkey") === i(1))
      .orderBy(asc(c("l_quantity"))).execute().collect().head
    val base = li.selectCols(cols("l_orderkey", "l_quantity", "l_tax"))
      .filter(c("l_orderkey") === i(1))
      .orderBy(asc(c("l_quantity"))).execute().collect().head
    assert(row.getDouble(1) == math.rint(base.getDouble(1) * 2 * 10) / 10)
    assert(across1.buildHash.length == 64) // hashable like any plan

    // empty selection fails loud
    intercept[IllegalArgumentException](li.selectCols(none))
    intercept[IllegalArgumentException](
      li.selectCols(startsWith("no_such_prefix")))
  }

  /** `df`'s rows as sorted strings, for order-free comparison. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `t`'s plan lowered from scratch, without the fluent API's frames. */
  private def fromScratch(t: GraftTable): DataFrame =
    new Lower(spark, t.session.bindings, t.session.functions).lower(t.rel)

  test("construction is fail-fast: a bad column throws at build time") {
    val g = session
    val t = g.readParquet(s"$sfDir/nation.parquet")
    intercept[Exception] { t.select("x" -> c("no_such_column")) }
    intercept[Exception] { t.filter(c("n_name") > c("missing")) }

    // deep in a chain: the new node is validated against its input
    val deep = t.filter(c("n_regionkey") >= i(0))
      .select("n" -> c("n_name"), "rk" -> c("n_regionkey"))
      .distinct
      .orderBy(asc(c("n")))
      .limit(20)
      .select("n" -> c("n"))
    intercept[Exception] { deep.filter(c("no_such_column") > i(0)) }
    intercept[Exception] { deep.groupBy("k" -> c("missing"))("n" -> countAll) }

    // inside the other side of a join: a join key it lacks, and an
    // input table that was never validated itself
    val r = g.readParquet(s"$sfDir/region.parquet")
    intercept[Exception] {
      t.join(r, "inner", c("n_regionkey") === c("no_such_key"))
    }
    val unchecked = GraftTable(
      Project(r.rel, Seq("x" -> RCol("no_such_column"))), g)
    intercept[Exception] {
      t.join(unchecked, "inner", c("n_regionkey") === c("x"))
    }

    // above a cache point, which lowers transparently
    intercept[Exception] {
      t.cache().groupBy("k" -> c("no_such_column"))("n" -> countAll)
    }
  }

  test("construction is linear and job-free: a parquet scan's schema " +
    "comes from its footer, and no builder call runs a Spark job") {
    val g = session
    val (q3, compose) = Meter(spark.sparkContext) {
      g.readParquet(s"$sfDir/lineitem.parquet")
        .join(g.readParquet(s"$sfDir/orders.parquet")
          .filter(c("o_orderdate") < L("1995-03-15", "date")),
          "inner", c("l_orderkey") === c("o_orderkey"))
        .join(g.readParquet(s"$sfDir/customer.parquet")
          .filter(c("c_mktsegment") === L("BUILDING")),
          "inner", c("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey" -> c("l_orderkey"),
          "o_orderdate" -> c("o_orderdate"))(
          "revenue" -> agg("sum",
            c("l_extendedprice") * (d(1.0) - c("l_discount"))))
        .cache()
        .orderBy(desc(c("revenue")), asc(c("l_orderkey")))
        .limit(10)
    }
    assert(compose.jobs == 0)

    val (deeper, deeperRun) = Meter(spark.sparkContext) {
      q3.filter(c("revenue") > d(0.0))
        .select("k" -> c("l_orderkey"), "r" -> c("revenue"))
        .tag("stage", "report")
        .orderBy(asc(c("k")))
        .limit(5)
        .distinct
    }
    assert(deeperRun.jobs == 0)
    assert(deeper.schema.fieldNames.toSeq == Seq("k", "r"))
    // cache/tag/tee add no analysis: they return their input's frame
    assert(q3.cache().df eq q3.df)
    assert(q3.tag("k", "v").df eq q3.df)
    assert(q3.tee(s"${Files.createTempDirectory("graft_tee_")}/s").df eq
      q3.df)
  }

  test("a cache hit: execute() runs no job, and collect() runs only " +
    "the jobs of the same query over the artifact") {
    val root = Files.createTempDirectory("graft_api_hit_").toString
    val g = new GraftSession(spark, storages = Map("default" ->
      new graft.cache.ParquetDirStorage(spark, root)))
    val t = g.readParquet(s"$sfDir/lineitem.parquet")
      .groupBy("f" -> c("l_returnflag"))("n" -> countAll)
      .cache()
      .filter(c("n") > i(0))
    val want = t.execute().collect().map(_.toString).sorted // the miss
    assert(g.cacheManager.misses == 1)

    val (df, exec) = Meter(spark.sparkContext)(t.execute())
    assert(g.cacheManager.hits == 1)
    assert(exec.jobs == 0, s"execute() on a hit ran ${exec.jobs} jobs")
    val (got, act) = Meter(spark.sparkContext)(df.collect())
    assert(got.map(_.toString).sorted.sameElements(want))

    val artifact = Files.list(java.nio.file.Paths.get(root))
      .findFirst().get.toString
    val direct = spark.read.parquet(artifact).filter(c0("n") > 0)
    val (_, plain) = Meter(spark.sparkContext)(direct.collect())
    assert(act.jobs == plain.jobs,
      s"collect() ran ${act.jobs} jobs, the plain query ${plain.jobs}")
  }

  test("inputs that share a frame (union with itself, self-join, a " +
    "model fit on the same table) match a from-scratch lowering") {
    val g = session
    val t = g.readParquet(s"$sfDir/nation.parquet")
      .filter(c("n_regionkey") < i(3))
    val n = t.df.count()

    val doubled = t.unionAll(t)
    assert(doubled.df.count() == 2 * n)
    assert(rowsOf(doubled.df) == rowsOf(fromScratch(doubled)))

    val selfJoin = t.join(
      t.select("m_name" -> c("n_name"), "m_regionkey" -> c("n_regionkey")),
      "inner", c("n_regionkey") === c("m_regionkey"))
    assert(rowsOf(selfJoin.df) == rowsOf(fromScratch(selfJoin)))
    assert(selfJoin.df.count() > n)

    val li = g.readParquet(s"$sfDir/lineitem.parquet")
      .select("l_quantity" -> c("l_quantity"),
        "l_extendedprice" -> c("l_extendedprice"))
    val steps = Seq(ScaleSpec("l_quantity", "qs"),
      LinRegSpec("qs", "l_extendedprice", "pred"))
    val scored = li.transformWith(li.fit(steps: _*), steps: _*)
    // the fitted doubles may differ in the last bits between the two
    // fits (summation order), so compare them with a tolerance
    def sorted(df: DataFrame) =
      df.orderBy(c0("l_quantity"), c0("l_extendedprice")).collect()
    val (got, want) = (sorted(scored.df), sorted(fromScratch(scored)))
    assert(scored.schema.fieldNames.toSeq ==
      Seq("l_quantity", "l_extendedprice", "qs", "pred"))
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (a, b) =>
      (0 until a.length).foreach { k =>
        assert(math.abs(a.getDouble(k) - b.getDouble(k)) <=
          1e-9 * math.max(1.0, math.abs(b.getDouble(k))))
      }
    }
  }

  test("cache() + execute() round-trips through the artifact store") {
    val root = Files.createTempDirectory("graft_api_cache_").toString
    val g = new GraftSession(spark, storages = Map("default" ->
      new graft.cache.ParquetDirStorage(spark, root)))
    val t = g.readParquet(s"$sfDir/orders.parquet")
      .groupBy("st" -> c("o_orderstatus"))("n" -> countAll)
      .cache()
      .orderBy(asc(c("st")))
    val first = t.execute().collect()
    val second = t.execute().collect()
    assert(first.toSeq == second.toSeq)
    assert(g.cacheManager.misses == 1 && g.cacheManager.hits == 1)
  }

  test("unbound tables + params rebind per execution") {
    val g = session.bind(
      "src" -> spark.read.parquet(s"$sfDir/orders.parquet"))
    val t = g.table("src", "o_totalprice" -> "DOUBLE")
      .filter(c("o_totalprice") > param("cut", "double", Some("100000")))
      .groupBy()("n" -> countAll)
    val nDefault = t.bindParams().execute().collect()(0).getLong(0)
    val nLow = t.bindParams("cut" -> "10000").execute().collect()(0)
      .getLong(0)
    assert(nLow > nDefault)
  }

  test("the driver entry point (flagship query via the fluent API) " +
    "returns ranked revenue rows") {
    val rows = graft.SparkEntry.entry(spark).collect()
    assert(rows.length == 20)
    val revenues = rows.map(_.getAs[Double]("revenue"))
    assert(revenues.zip(revenues.tail).forall { case (a, b) => a >= b })
  }

  test("save/load round-trip via the build dir") {
    val g = session
    val dir = Files.createTempDirectory("graft_api_builds_").toString
    val t = g.readParquet(s"$sfDir/region.parquet")
      .select("r" -> c("r_name")).orderBy(asc(c("r")))
    val art = t.save(dir)
    val loaded = g.load(dir, art.hash)
    assert(loaded.execute().collect().toSeq == t.execute().collect().toSeq)
    assert(RelHash.buildHash(loaded.rel) == art.hash)
  }

  test("bind() carries the function catalog and exchange roots forward") {
    val g = new GraftSession(spark,
      functions = graft.udf.Builtins.catalog)
    val bound = g.bind("docs" ->
      spark.read.parquet(s"$sfDir/documents.parquet"))
    // the udxf must still resolve on the bound session (a rebuilt
    // session that dropped `functions` threw 'not registered')
    val t = bound.table("docs")
      .select("doc_id" -> c("doc_id"), "text" -> c("text"))
      .applyUdxf("doc_stats")
    assert(t.schema.fieldNames.contains("n_tokens"))
    assert(t.execute().count() > 0)
  }

  test("tee writes its sink exactly once per execute(), never during " +
    "fluent construction") {
    val g = session
    val sink = Files.createTempDirectory("graft_tee_").toString + "/sink"
    def sinkExists = new java.io.File(sink).exists()

    // chaining N operators after .tee must not touch the sink (r2: the
    // eager analysis of every chained node re-ran the write N+1 times)
    val t = g.readParquet(s"$sfDir/nation.parquet")
      .tee(sink)
      .filter(c("n_regionkey") >= i(0))
      .select("n" -> c("n_name"), "rk" -> c("n_regionkey"))
      .orderBy(asc(c("n")))
      .limit(10)
    assert(!sinkExists, "tee sink must not be written at construction")

    assert(t.execute().collect().length == 10)
    assert(sinkExists, "execute() must perform the write-through")
    // the sink holds the full teed subtree, not the downstream result
    assert(spark.read.parquet(sink).count() ==
      spark.read.parquet(s"$sfDir/nation.parquet").count())

    // write fires once per execute: a fresh execute overwrites
    val mtime1 = new java.io.File(sink).lastModified()
    t.execute().collect()
    assert(new java.io.File(sink).lastModified() >= mtime1)
  }

  test("asofJoin and intoCatalog compose through the fluent surface") {
    val g = session.bind(
      "ev" -> graft.Tables(spark, sfDir, "events"))
    val clicks = g.table("ev")
      .filter(c("event_type") === L("click"))
      .select("event_id" -> c("event_id"), "user_id" -> c("user_id"),
        "ts" -> c("ts"))
    val signups = g.table("ev")
      .filter(c("event_type") === L("signup"))
    // an UnboundTable leaf cannot be mtime-fingerprinted: a bare named
    // target must REJECT (a silent content-hash key would serve the
    // first-written artifact forever after a rebind — ADVICE r3)…
    val joinedBare = clicks
      .asofJoin(signups, Seq("user_id"), "ts", "ts",
        Seq("value" -> "signup_value"))
      .intoCatalog("warehouse")
      .limit(10)
    assert(joinedBare.schema.fieldNames.contains("signup_value"))
    val err = intercept[IllegalArgumentException](joinedBare.execute())
    assert(err.getMessage.contains("snapshot+"))

    // …and the `snapshot+` prefix is the explicit write-once opt-in
    val joined = clicks
      .asofJoin(signups, Seq("user_id"), "ts", "ts",
        Seq("value" -> "signup_value"))
      .intoCatalog("snapshot+warehouse")
      .limit(10)
    assert(joined.execute().collect().length == 10)
  }
}
