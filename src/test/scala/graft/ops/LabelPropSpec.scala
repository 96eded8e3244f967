package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.graft.Meter

class LabelPropSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("two cliques joined by a bridge resolve into two communities") {
    val cliqueA = for { a <- Seq("a1", "a2", "a3"); b <- Seq("a1", "a2", "a3")
      if a < b } yield (a, b)
    val cliqueB = for { a <- Seq("b1", "b2", "b3"); b <- Seq("b1", "b2", "b3")
      if a < b } yield (a, b)
    val edges = (cliqueA ++ cliqueB :+ ("a1" -> "b1")).toDF("src", "dst")
    val labels = LabelProp.run(edges, iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // each clique converges to one shared label
    assert(Set("a1", "a2", "a3").map(labels).size == 1)
    assert(Set("b1", "b2", "b3").map(labels).size == 1)
  }

  test("ties break to the smallest label deterministically") {
    // node x has neighbors a and b once each: min label a wins
    val edges = Seq(("x", "a"), ("x", "b")).toDF("src", "dst")
    val l1 = LabelProp.run(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l1("x") == "a")
  }

  test("self-loops and duplicate/reversed edges do not distort counts") {
    val edges = Seq(("x", "a"), ("a", "x"), ("x", "a"), ("x", "x"),
      ("x", "b"), ("b", "b")).toDF("src", "dst")
    val l1 = LabelProp.run(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // x sees {a, b} exactly once each despite duplicates → min label a
    assert(l1("x") == "a")
  }

  test("every round runs before the call returns: collecting the " +
    "labels is one job with no shuffle read") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    val labels = LabelProp.run(edges, iters = 3)
    val (_, m) = Meter(spark.sparkContext)(labels.collect())
    assert(m.jobs == 1 && m.shuffleReadBytes == 0, m.summary)
  }

  test("iters must be positive") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] { LabelProp.run(edges, 0) }
  }
}
