package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.graft.Meter

/** PageRank semantics on a hand-computable graph: one round against
  * closed-form values (incl. dangling-mass redistribution — node c has
  * no out-edges), conservation of total mass across rounds, and loud
  * argument validation. */
class PageRankSpec extends SparkSpec {

  private def edges = {
    val s = spark
    import s.implicits._
    Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
  }

  test("one round matches the closed form with dangling mass") {
    // N=3, uniform 1/3 start; c is dangling (dm = 1/3):
    // r(a) = 0.05 + 0.85*(r(b)/1 + dm/3)   = 0.427777…
    // r(b) = r(c) = 0.05 + 0.85*(r(a)/2 + dm/3) = 0.286111…
    val got = PageRank.run(edges, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - 0.42777777777777776) < 1e-12)
    assert(math.abs(got("b") - 0.2861111111111111) < 1e-12)
    assert(math.abs(got("c") - 0.2861111111111111) < 1e-12)
  }

  test("total mass stays 1 across rounds") {
    val total = PageRank.run(edges, iters = 3).collect().map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("every round runs before the call returns: collecting the ranks " +
    "is one job with no shuffle read") {
    val s = spark
    import s.implicits._
    val sources = Seq("a").toDF("node")
    Seq(PageRank.run(edges, iters = 3),
        PageRank.personalized(edges, sources, iters = 3)).foreach { ranks =>
      val (_, m) = Meter(spark.sparkContext)(ranks.collect())
      assert(m.jobs == 1 && m.shuffleReadBytes == 0, m.summary)
    }
  }

  test("argument validation fails loud") {
    intercept[IllegalArgumentException] { PageRank.run(edges, iters = 0) }
    intercept[IllegalArgumentException] {
      PageRank.run(edges, iters = 1, damping = 1.0)
    }
  }
}
