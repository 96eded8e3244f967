package xorqbench

import graft.api._
import graft.api.dsl._
import graft.rel._

/** The algebra plans the workloads compose through the fluent API.
  * Each carries a `.cache()` point above its join/aggregate and a date
  * cutoff below it. Money is summed as
  * DECIMAL so results are exact and checksums do not depend on the
  * summation order. */
object Plans {
  val names: Seq[String] = Seq("q3", "q1", "topn")

  /** The date cutoff, 2200 days after [[Fixtures.epoch]] (of 2406 in
    * the data), so every filter keeps most rows. */
  private val cutoff: RExpr = L(java.time.LocalDate.parse(Fixtures.epoch)
    .plusDays(2200).toString, "date")

  private val money = "decimal(12,2)"
  private def revenue: RExpr = agg("sum",
    raw(s"cast(l_extendedprice as $money) * (1 - cast(l_discount as decimal(4,2)))"))

  /** Compose plan `name` through the fluent API; every builder call
    * validates eagerly, as in a user session. */
  def compose(g: GraftSession, fx: Fixtures, name: String,
      strategy: String): GraftTable = name match {
    case "q3" => // the SparkEntry.entry shape, with an order-date cutoff
      g.readParquet(fx.lineitem)
        .join(g.readParquet(fx.orders).filter(c("o_orderdate") < cutoff),
          "inner", c("l_orderkey") === c("o_orderkey"))
        .join(g.readParquet(fx.customer), "inner",
          c("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey" -> c("l_orderkey"),
          "o_orderdate" -> c("o_orderdate"))("revenue" -> revenue)
        .cache(strategy = strategy)
        .orderBy(desc(c("revenue")), asc(c("l_orderkey")))
        .limit(20)
    case "q1" => // pricing summary report, by order priority
      val price = raw(s"cast(l_extendedprice as $money)")
      val qty = raw("cast(l_quantity as decimal(12,2))")
      g.readParquet(fx.lineitem)
        .filter(c("l_shipdate") <= cutoff)
        .join(g.readParquet(fx.orders), "inner",
          c("l_orderkey") === c("o_orderkey"))
        .groupBy("l_returnflag" -> c("l_returnflag"),
          "l_linestatus" -> c("l_linestatus"),
          "o_orderpriority" -> c("o_orderpriority"))(
          "sum_qty" -> agg("sum", qty),
          "sum_base_price" -> agg("sum", price),
          "sum_disc_price" -> revenue,
          "sum_charge" -> agg("sum", raw(s"cast(l_extendedprice as $money)" +
            " * (1 - cast(l_discount as decimal(4,2)))" +
            " * (1 + cast(l_tax as decimal(4,2)))")),
          "avg_qty" -> agg("avg", qty),
          "avg_price" -> agg("avg", price),
          "count_order" -> countAll)
        .cache(strategy = strategy)
        .orderBy(asc(c("l_returnflag")), asc(c("l_linestatus")),
          asc(c("o_orderpriority")))
    case "topn" => // top-3 orders by revenue per customer
      g.readParquet(fx.orders)
        .join(g.readParquet(fx.lineitem).filter(c("l_shipdate") <= cutoff),
          "inner", c("o_orderkey") === c("l_orderkey"))
        .groupBy("o_custkey" -> c("o_custkey"),
          "o_orderkey" -> c("o_orderkey"))("revenue" -> revenue)
        .cache(strategy = strategy)
        .windowProject(Seq("o_custkey", "o_orderkey", "revenue"),
          WinExpr("rn", fn("row_number"), Seq(c("o_custkey")),
            Seq(desc(c("revenue")), asc(c("o_orderkey"))), None))
        .filter(c("rn") <= i(3))
  }

  /** `rel` with every cache point switched to `strategy`. */
  def withStrategy(rel: Rel, strategy: String): Rel = rel.transformUp {
    case Cache(in, storage, _) => Cache(in, storage, strategy)
  }

  /** The cache points of a plan: (input sub-plan, strategy). */
  def cachePoints(rel: Rel): Seq[(Rel, String)] = rel match {
    case Cache(in, _, s) => (in, s) +: cachePoints(in)
    case other => other.children.flatMap(cachePoints)
  }

  /** Served plans over the unbound table `input` (a lineitem slice):
    * an aggregate and a selective filter/project passthrough. */
  def served(g: GraftSession): Map[String, Rel] = {
    val t = g.table("input")
    Map(
      "agg" -> t.groupBy("l_returnflag" -> c("l_returnflag"),
        "l_linestatus" -> c("l_linestatus"))(
        "sum_qty" -> agg("sum", raw("cast(l_quantity as decimal(12,2))")),
        "revenue" -> revenue, "n" -> countAll).rel,
      "pass" -> t.filter(c("l_quantity") >= d(49.0))
        .select("l_orderkey" -> c("l_orderkey"),
          "l_linenumber" -> c("l_linenumber"),
          "l_shipdate" -> c("l_shipdate"),
          "disc_price" -> raw(s"cast(l_extendedprice as $money) * " +
            "(1 - cast(l_discount as decimal(4,2)))")).rel)
  }
}
